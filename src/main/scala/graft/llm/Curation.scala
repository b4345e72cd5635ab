package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps._
import graft.ops.Materialize

/** Corpus-curation operators a training-data pipeline needs beyond dedup:
  * deterministic splits/samples, token-budget sharding, benchmark
  * decontamination, and vocabulary extraction.
  *
  * Determinism contract: anything "random" here is a pure function of the
  * row's id via the 60-bit MD5 hash ([[TextOps.hash60]]) — reruns,
  * retries, and other engines (the DuckDB oracle) reproduce the same
  * sample/split/shard exactly. A seeded `rand()` cannot promise that
  * across engines or even across Spark task retries at scale.
  *
  * Scale contract: no operator materializes a global single-partition
  * window over the data. The one global ordering we need (token packing)
  * is two-phase: per-prefix-range windows plus a tiny broadcast offset
  * table — the classic distributed prefix-sum.
  */
object Curation {

  /** Hard ceiling on [[epochMix]]'s per-domain full-epoch count: the
    * full-epoch fan-out explodes `sequence(0, ne-1)` per row, so `ne`
    * bounds both output amplification and the materialized array bytes.
    * No real mixture runs a domain for 10^6 epochs — a larger value is
    * a budget/token unit mistake and fails loud in-plan.
    */
  val MaxEpochs: Long = 1000000L

  /** Deterministic percentage split (train/val/test...): each row lands in
    * the split whose cumulative percentage range contains
    * `hash60(id) mod 100`. Stable under reruns, insert-order, and
    * partitioning; fractions are exact at the corpus level in expectation
    * and per-row reproducible.
    *
    * @param splits (name, percent) in declared order; percents sum to 100.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 100,
      s"split percents must sum to 100, got ${splits.map(_._2).sum}")
    val bucket = pmod(hash60(col(idCol).cast("string")), lit(100L))
    val bounds = splits.scanLeft(0)(_ + _._2).sliding(2).toSeq
      .zip(splits.map(_._1))
    val labelExpr = bounds.foldLeft(lit(null).cast("string")) {
      case (acc, (Seq(lo, hi), name)) =>
        when(bucket >= lo && bucket < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", labelExpr)
  }

  /** LEAKAGE-SAFE train/val/test split: every near-dup CLUSTER is
    * assigned as a unit — the split key is the cluster id for members
    * and the document's own id for singletons — so two near-duplicate
    * documents can never straddle train and test (the eval-inflation
    * pitfall a per-document [[hashSplit]] has on un-deduped corpora).
    * `clusters` is [[Dedup.dedupClusters]] output (doc_id, cluster_id);
    * docs absent from it are singletons. Output adds (split_key, split).
    *
    * Scale shape: one left join keyed on the id (the cluster frame is
    * member-count-sized), then the zero-shuffle hash-bucket labeling.
    */
  def clusterSplit(docs: DataFrame, clusters: DataFrame, idCol: String,
                   splits: Seq[(String, Int)]): DataFrame =
    hashSplit(
      docs.join(clusters.toDF(idCol, "cluster_id"), Seq(idCol), "left")
        .withColumn("split_key", coalesce(col("cluster_id"), col(idCol)))
        .drop("cluster_id"),
      "split_key", splits)

  /** Per-key quota sample: keep at most `quota` rows per key, chosen by
    * the deterministic hash order (NOT first-seen order, which depends on
    * partitioning). One shuffle on the key; the per-key sort is bounded by
    * the group size, and a skewed key degrades to a top-k, not a global
    * sort.
    */
  def quotaSample(df: DataFrame, keyCol: String, idCol: String,
                  quota: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(hash60(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= quota)
      .drop("_rn")
  }

  /** Token-budget packing: assign each document a shard id so every shard
    * holds ~`budget` tokens, in the deterministic hash60(id) global order.
    * shard = floor(exclusive-prefix-sum(tokens) / budget).
    *
    * The global prefix sum is TWO-PHASE, never a single-partition window:
    * rows get a coarse `prefix` from the hash's top bits (2^prefixBits
    * ordered ranges); a windowed sum runs WITHIN each prefix range in
    * parallel, and the per-prefix totals — a 2^prefixBits-row frame —
    * produce each range's starting offset, broadcast back. At 100 TB,
    * prefixBits=12 gives 4096-way parallel ranges and a 4096-row offset
    * table; the offset table's own window is driver-trivial.
    */
  def packByTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                        budget: Long, prefixBits: Int = 8): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(prefixBits >= 1 && prefixBits <= 20,
      s"prefixBits must be in [1, 20], got $prefixBits")
    val withH = df
      .withColumn("_h", hash60(col(idCol).cast("string")))
      .withColumn("_pfx", shiftright(col("_h"), 60 - prefixBits))
    val inRange = Window.partitionBy(col("_pfx"))
      .orderBy(col("_h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = withH.withColumn("_cum",
      sum(col(tokensCol).cast("long")).over(inRange))
    // Tiny frame: one row per prefix range. Its global window is over
    // <=2^prefixBits rows — explicitly NOT data-scale.
    val offsets = withH.groupBy(col("_pfx"))
      .agg(sum(col(tokensCol).cast("long")).as("_total"))
      .withColumn("_offset",
        coalesce(sum(col("_total")).over(
          Window.orderBy(col("_pfx"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pfx"), col("_offset"))
    cum.join(broadcast(offsets), Seq("_pfx"))
      .withColumn("shard",
        floor((col("_offset") + col("_cum") - col(tokensCol).cast("long"))
          / budget).cast("long"))
      .drop("_h", "_pfx", "_cum", "_offset")
  }

  /** Fractional-epoch token-budget mixture: the training-mixture step
    * where each domain gets a TOKEN budget that may exceed its corpus —
    * high-quality domains repeat (epochs > 1), oversized domains
    * downsample (epoch 0 only, partially filled), in one operator.
    * Emits one row per (doc, epoch): `floor(budget / domainTokens)`
    * full epochs for every doc, plus one partial epoch greedily filled
    * in deterministic hash order until the remainder budget is spent
    * (a doc joins the partial epoch iff its inclusive running token sum
    * stays within the remainder). Domains without a budget row are
    * dropped; a budget below the corpus size degenerates to pure
    * downsampling (zero full epochs), so this subsumes
    * [[mixToProportions]]'s direction while adding upsampling.
    *
    * Scale shape: the running sum uses the [[packByTokenBudget]]
    * two-phase prefix-sum layout — cumulative sums within (domain, hash
    * prefix) ranges, plus a broadcast per-(domain, prefix) offset frame
    * of at most `domains * 2^prefixBits` rows — so no single task ever
    * streams a whole domain. The per-domain plan (epochs, remainder) is
    * a broadcast frame of one row per domain; full epochs explode from
    * it without another shuffle.
    *
    * @param budgets one row per domain: (`domainCol`, `budget`) with
    *   budget in tokens
    * @return (idCol, domainCol, epoch, n_tokens), epochs numbered 0..ne
    */
  def epochMix(df: DataFrame, idCol: String, tokensCol: String,
               domainCol: String, budgets: DataFrame,
               prefixBits: Int = 8): DataFrame = {
    require(prefixBits >= 1 && prefixBits <= 20,
      s"prefixBits must be in [1, 20], got $prefixBits")
    val tok = df.select(col(idCol).as("id"), col(domainCol).as("domain"),
        col(tokensCol).cast("long").as("ntok"))
      .withColumn("_h", hash60(concat(lit("ep:"), col("id").cast("string"))))
      .withColumn("_pfx", shiftright(col("_h"), 60 - prefixBits))
    val tot = tok.groupBy(col("domain")).agg(sum(col("ntok")).as("tt"))
    // Per-domain plan: full-epoch count and leftover token budget. The
    // division is IEEE double + floor (deterministic, oracle-replicable);
    // the remainder is exact long arithmetic on top of it.
    val plan = tot
      // A domain whose corpus has zero tokens cannot absorb a budget
      // (the epoch division is undefined) — dropped, like unbudgeted
      // domains.
      .filter(col("tt") > 0L)
      .join(budgets.select(col(domainCol).as("domain"),
        col("budget").cast("long").as("budget")), Seq("domain"))
      .withColumn("ne",
        floor(col("budget").cast("double") / col("tt").cast("double"))
          .cast("long"))
      // Epoch-explosion guard: `full` below explodes sequence(0, ne-1),
      // which materializes an 8·ne-byte array PER ROW before exploding.
      // A misconfigured budget (wrong units against a tiny domain) would
      // OOM a task or trip Spark's array cap with an opaque error; fail
      // loud here instead. The check rides the domain-cardinality plan
      // frame, so it costs nothing at data scale.
      .withColumn("ne", when(col("ne") > lit(MaxEpochs),
        raise_error(concat(lit("epochMix: domain "),
          col("domain").cast("string"), lit(" derives "),
          col("ne").cast("string"),
          lit(s" full epochs (> $MaxEpochs) - the per-doc epoch " +
            "explode would materialize an 8*ne-byte array per row. " +
            "Check the budget/token units (a token budget orders of " +
            "magnitude past the domain's corpus is almost always a " +
            "unit mistake), or pre-replicate the corpus instead."))))
        .otherwise(col("ne")))
      .withColumn("rem", col("budget") - col("ne") * col("tt"))
      .select(col("domain"), col("ne"), col("rem"))
    // Two-phase global running sum per domain in (hash, id) order: the
    // prefix ranges order-embed into the hash order, so offset + local
    // cumsum IS the domain-global inclusive running sum.
    val inRange = Window.partitionBy(col("domain"), col("_pfx"))
      .orderBy(col("_h"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = tok.withColumn("_cum", sum(col("ntok")).over(inRange))
    val offsets = tok.groupBy(col("domain"), col("_pfx"))
      .agg(sum(col("ntok")).as("_t"))
      .withColumn("_off", coalesce(sum(col("_t")).over(
        Window.partitionBy(col("domain")).orderBy(col("_pfx"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("domain"), col("_pfx"), col("_off"))
    val g = cum.join(broadcast(offsets), Seq("domain", "_pfx"))
      .withColumn("_gcum", col("_off") + col("_cum"))
      .join(broadcast(plan), Seq("domain"))
    val full = g.filter(col("ne") > 0)
      .select(col("id"), col("domain"), col("ntok"),
        explode(sequence(lit(0L), col("ne") - 1)).as("epoch"))
    val partial = g.filter(col("_gcum") <= col("rem"))
      .select(col("id"), col("domain"), col("ntok"), col("ne").as("epoch"))
    full.unionAll(partial)
      .select(col("id").as(idCol), col("domain").as(domainCol),
        col("epoch"), col("ntok").as("n_tokens"))
  }

  /** Benchmark decontamination: drop every corpus document sharing at
    * least one word k-shingle with the benchmark set — the standard
    * guard against test-set leakage into training data.
    *
    * Candidate detection is a semi-join on the 60-bit shingle hash (the
    * contaminated-id set), then an anti-join back on the id — shuffles
    * proportional to shingles + contaminated ids, never pairwise. The
    * benchmark side is usually small; Catalyst/AQE picks broadcast for it
    * on its own.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleK: Int): DataFrame = {
    // Shingling is the CPU-heavy stage: spread a narrow input first or a
    // single-file corpus serializes the whole pass onto one core
    // (no-op when the input already has enough splits).
    val corpusSh = Dedup.ensureParallelism(
        corpus.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(wordShingles(col(textCol), shingleK)).as("_s0"))
      .select(col(idCol), hash60(col("_s0")).as("_s"))
    val benchSh = Dedup.ensureParallelism(benchmark.select(col(textCol)))
      .select(explode(wordShingles(col(textCol), shingleK)).as("_s0"))
      .select(hash60(col("_s0")).as("_s")).distinct()
    val contaminated = corpusSh.join(benchSh, Seq("_s"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** NEAR-dup benchmark decontamination: drop every corpus doc whose
    * shingle Jaccard against ANY benchmark doc clears `threshold` — the
    * paraphrase edition of [[decontaminate]]. The exact variant drops a
    * doc for sharing a single n-gram (maximally conservative, but on a
    * dense corpus it over-drops wholesale); this one drops only
    * WHOLE-DOCUMENT near-matches — the reworded eval question that
    * leaked into the training set — via the cross-corpus banded
    * candidate join ([[Dedup.minhashLshPairsAcross]]: benchmark band
    * rows broadcast, no corpus-wide shuffle, exact-Jaccard verified).
    * The two variants compose: exact for verbatim leak, near-dup at a
    * Jaccard threshold for paraphrase leak.
    */
  def decontaminateNearDup(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String, shingleK: Int,
                           bands: Int, rowsPerBand: Int,
                           threshold: Double): DataFrame = {
    val contaminated = Dedup.minhashLshPairsAcross(corpus, benchmark,
        idCol, textCol, shingleK, bands, rowsPerBand, threshold)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Deterministic score-proportional sampling: keep each row with
    * probability `clamp(score, 0, 1)` — the curation step that thins a
    * corpus TOWARD its high-quality tail without a hard cutoff (a hard
    * gate at quality q discards everything below q; this keeps a
    * score-0.3 document 30 % of the time, preserving distributional
    * coverage the way quality-weighted training-data pipelines do).
    *
    * Same engine-portable rule as [[domainMixSample]]: the keep decision
    * is `hash60(salt || id) mod 1e6 < floor(clamp(score)·1e6)` — a pure
    * scan-stage filter (zero shuffle at any scale), reproducible across
    * engines/reruns/partitionings, and under its own salt ("qw:") so it
    * composes independently with the other samplers. The ppm threshold
    * is a single pinned IEEE sequence (`clamp`, one multiply, `floor`),
    * so an oracle computing the same score recomputes the identical
    * threshold; score exactly 1.0 floors to exactly 1e6 (keep-all — no
    * binding-domain-style boundary case).
    */
  def scoreWeightedSample(df: DataFrame, idCol: String, scoreCol: String,
                          salt: String = "qw:"): DataFrame = {
    // NaN pins to 0 (drop): Spark orders NaN ABOVE every double, so a bare
    // least/greatest clamp would pass NaN through as 1.0 and keep every
    // row whose quality signal failed — the exact rows a weighted sampler
    // exists to suppress. NULL scores already drop (NULL < ppm is never
    // true); NaN now behaves the same.
    val ppm = floor(
      when(isnan(col(scoreCol)), lit(0.0))
        .otherwise(least(greatest(col(scoreCol), lit(0.0)), lit(1.0)))
        * lit(1e6))
      .cast("long")
    val bucket = pmod(
      hash60(concat(lit(salt), col(idCol).cast("string"))), lit(1000000L))
    df.filter(bucket < ppm)
  }

  /** Deterministic weighted sampling WITHOUT replacement, exact size k —
    * the Efraimidis–Spirakis A-ES scheme (2006, public): each row draws
    * u from the hash lattice and scores key = ln(u)/w; the k LARGEST
    * keys are a weighted-without-replacement sample (P(row first) =
    * w/Σw). The exact-COUNT weighted complement of
    * [[scoreWeightedSample]]'s Bernoulli rate filter — what a budgeted
    * curation step uses when "exactly k docs, longer/better ones
    * proportionally likelier" is the contract.
    *
    * Determinism: u is the half-open lattice (h60(salt‖id)%1e6 + 0.5)/1e6
    * (the [[graft.ops.Checks.dpNoisyCounts]] trick — never 0 or 1, so
    * ln(u) ∈ [−13.8, 0)), keys pin to integer 1e-12 units before
    * ordering, and ties (only possible at equal pinned keys) break on
    * (id, weight) — a pure function of (data, salt) on any engine
    * PROVIDED ids are unique, the same contract every surrogate-key
    * path carries. Duplicate ids share u by construction, so two rows
    * with equal (id, weight) have identical sort keys and which one
    * survives the boundary of limit(k) is partition-order-dependent —
    * the weight term in the tiebreak totalizes the order for
    * same-id-different-weight rows, but equal (id, weight) duplicates
    * must be deduplicated (or keyed uniquely) by the caller first.
    * Rows with non-positive or NULL weight are excluded (zero weight
    * means "never sample"; a negative one is meaningless).
    *
    * Scale shape: one scan projecting the key + TakeOrderedAndProject
    * (per-partition k-heaps, k rows per partition to the driver-side
    * gather) — the [[uniformSample]] shape, no global sort.
    *
    * @return the k sampled rows (all caller columns) + `key_units`
    */
  def weightedSampleExactK(df: DataFrame, idCol: String, weightCol: String,
                           k: Int, salt: String = "ws:"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(!df.columns.contains("key_units"),
      "weightedSampleExactK appends 'key_units'; rename the caller's")
    val u = (pmod(hash60(concat(lit(salt), col(idCol).cast("string"))),
      lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
    val w = col(weightCol).cast("double")
    df.filter(w > lit(0.0))
      .withColumn("key_units",
        floor(log(u) / w * lit(1e12) + lit(0.5)).cast("long"))
      .orderBy(col("key_units").desc, col(idCol), w)
      .limit(k)
  }

  /** Deterministic weighted domain-mix downsampling — the data-mixing
    * step of a training-pipeline: keep each row of domain `d` with
    * probability `weights(d)` (ppm precision; `defaultWeight` for
    * unlisted domains). The keep decision is
    * `hash60(salt || id) mod 1e6 < rate_ppm` — salted so it is
    * independent of [[hashSplit]]'s buckets, pure per-row (no shuffle at
    * all: a scan-stage filter at any scale), and reproducible across
    * engines, reruns, and partitionings.
    *
    * Each sampling operator gets its OWN salt default ([[mixToProportions]]
    * uses "mixprop:"): with a shared salt, chaining two samplers keeps
    * `min(r1, r2)` of the same hash buckets instead of thinning
    * independently by `r2`. Pass distinct salts if you compose several
    * [[domainMixSample]] stages on one id column.
    */
  def domainMixSample(df: DataFrame, idCol: String, domainCol: String,
                      weights: Map[String, Double],
                      defaultWeight: Double = 1.0,
                      salt: String = "mix:"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 1),
      "domain weights must be in [0, 1]")
    val ppm = weights.foldLeft(lit(math.round(defaultWeight * 1e6))) {
      case (acc, (d, w)) => when(col(domainCol) === d, lit(math.round(w * 1e6)))
        .otherwise(acc)
    }
    val bucket = pmod(
      hash60(concat(lit(salt), col(idCol).cast("string"))), lit(1000000L))
    df.filter(bucket < ppm)
  }

  /** Resample a corpus to exact target domain proportions, keeping the
    * LARGEST corpus that achieves them: the binding domain (smallest
    * `n_d / target_d`) is kept whole and every other domain downsampled
    * to match, i.e. `rate_d = target_d * S / n_d` with
    * `S = min_d(n_d / target_d)`. Domains without a target are dropped.
    *
    * Per-row decisions are the same salted-hash rule as
    * [[domainMixSample]] but under a DISTINCT salt ("mixprop:"), so
    * composing the two operators on one id column thins independently
    * instead of re-keeping the same hash buckets; rates derive from the
    * per-domain counts — a domain-cardinality (tiny) aggregate broadcast
    * back — so the whole plan is one map-side-combined count plus a
    * broadcast join: no data-scale shuffle. Rates are floored to ppm in a
    * pinned left-to-right double sequence (`t*S/n*1e6`, each op IEEE
    * exactly-rounded) so an oracle recomputing them from the same counts
    * gets bit-identical thresholds — except the binding domain itself,
    * which is pinned to exactly 1e6 ppm: `t*S/n` for the domain defining
    * `S = n/t` can round to just below 1.0 in doubles (ppm 999 999),
    * which would silently drop ~1-in-1e6 rows of the domain documented
    * as "kept whole". The oracle must mirror the same special case.
    */
  def mixToProportions(df: DataFrame, idCol: String, domainCol: String,
                       targets: Map[String, Double],
                       salt: String = "mixprop:"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be positive")
    require(math.abs(targets.values.sum - 1.0) < 1e-9,
      s"target shares must sum to 1, got ${targets.values.sum}")
    val targetExpr = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (d, t)) => when(col(domainCol) === d, lit(t)).otherwise(acc)
    }
    val counts = df.groupBy(col(domainCol))
      .agg(count(lit(1)).cast("double").as("_n"))
      .withColumn("_t", targetExpr).filter(col("_t").isNotNull)
    val scale = counts.agg(min(col("_n") / col("_t")).as("_S"))
    val rates = counts.crossJoin(broadcast(scale))
      .withColumn("_ppm",
        when(col("_n") / col("_t") === col("_S"), lit(1000000L))
          .otherwise(
            floor(col("_t") * col("_S") / col("_n") * lit(1e6)).cast("long")))
      .select(col(domainCol), col("_ppm"))
    val bucket = pmod(
      hash60(concat(lit(salt), col(idCol).cast("string"))), lit(1000000L))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(bucket < col("_ppm"))
      .drop("_ppm")
  }

  /** [[decontaminate]] with an explicit bloom-filter prefilter on the
    * corpus side — the 100 TB shape of the same operator.
    *
    * The plain semi-join shuffles EVERY corpus shingle to its hash
    * partition; at 100 TB that is the dominant cost even though almost no
    * shingle is contaminated. Here the benchmark shingle-hash set is
    * folded into one bloom filter (a single [[graft.functions.BloomAgg]]
    * row, broadcast — O(bits), not O(benchmark)), and
    * `graft_bloom_contains` drops clean shingles INSIDE the corpus scan
    * stage, before the Exchange. The exact semi-join then removes bloom
    * false positives, so the result is row-identical to [[decontaminate]]
    * and stays exact-oracle-checkable.
    *
    * Size `bloomBits` to benchmark shingle cardinality (~10 bits/element
    * ≈ 1 % FP at 7 hashes); an undersized filter only weakens the
    * prefilter, never correctness.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, shingleK: Int,
                         bloomBits: Int = 1 << 20,
                         bloomHashes: Int = 7): DataFrame = {
    import graft.functions.BloomFunctions
    val corpusSh = Dedup.ensureParallelism(
        corpus.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(wordShingles(col(textCol), shingleK)).as("_s0"))
      .select(col(idCol), hash60(col("_s0")).as("_s"))
    val benchSh = Dedup.ensureParallelism(benchmark.select(col(textCol)))
      .select(explode(wordShingles(col(textCol), shingleK)).as("_s0"))
      .select(hash60(col("_s0")).as("_s")).distinct()
    // The built filter reaches the probe side as a SCALAR SUBQUERY (the
    // InjectRuntimeFilter shape), NOT as crossJoin(broadcast(onerow)):
    // a join there lets PushLeftSemiLeftAntiThroughJoin reorder the
    // downstream semi-join BELOW the bloom probe, shuffling the corpus
    // unfiltered — the exact cost the prefilter exists to avoid. A
    // Filter over a subquery is not a join, so the probe stays pinned
    // under the semi-join's Exchange.
    val bloom = benchSh.agg(
      BloomFunctions.bloomAgg(col("_s"), bloomBits, bloomHashes).as("_bf"))
    val prefiltered = corpusSh
      .filter(BloomFunctions.bloomContains(
        org.apache.spark.sql.graft.Bridge.scalarSubquery(bloom), col("_s")))
      .select(col(idCol), col("_s"))
    val contaminated = prefiltered.join(benchSh, Seq("_s"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Corpus vocabulary: the `k` most frequent normalized tokens, ordered
    * by (count desc, token) so ties are deterministic. Token counting is a
    * map-side-combined groupBy; the top-k is orderBy+limit, which Spark
    * plans as TakeOrderedAndProject (per-partition bounded heaps, no
    * global sort).
    */
  /** Fixed-size token-window chunking with overlap — the context-window
    * prep step: each document becomes ceil((n - chunk) / stride) + 1
    * chunks of `chunkTokens` whitespace tokens, consecutive chunks
    * sharing `overlap` tokens (stride = chunk - overlap); the final chunk
    * may be shorter. Pure narrow computation: the token array is
    * let-bound once per row ([[TextOps.wordShingles]] pattern), chunk
    * ranges come from a plan-time `sequence`, and the explode is the only
    * row-count change — no shuffle, embarrassingly parallel at 100 TB.
    *
    * Output: (id, chunk_id, n_tokens, chunk_text), deterministic.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val chunks = transform(array(tokens(col(textCol))), ws => {
      val n = size(ws)
      val nChunks = when(n <= chunkTokens, lit(1)).otherwise(
        floor((n - chunkTokens + (stride - 1)).cast("double") / stride)
          .cast("int") + 1)
      transform(sequence(lit(0), nChunks - 1), k =>
        struct(
          k.cast("int").as("chunk_id"),
          least(lit(chunkTokens), n - k * stride).cast("int").as("n_tokens"),
          array_join(slice(ws, k * stride + 1, lit(chunkTokens)), " ")
            .as("chunk_text")))
    })
    df.select(col(idCol), explode(element_at(chunks, 1)).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.n_tokens"), col("c.chunk_text"))
  }

  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Deterministic uniform k-sample: the k rows with the smallest salted
    * hash of the id (ties broken by id) — a hash-ordered reservoir. Same
    * seed, same rows, on any engine and any partitioning; distinct salts
    * give independent samples (the [[hashSplit]] decorrelation rule).
    *
    * Scale shape: plans as TakeOrderedAndProject — per-partition bounded
    * heaps of k rows, k rows per partition on the final gather, never a
    * global sort. The sampling-rate filters ([[domainMixSample]],
    * [[scoreWeightedSample]]) are cheaper when a RATE is acceptable; this
    * is the exact-COUNT variant an eval-set builder needs.
    */
  def uniformSample(df: DataFrame, idCol: String, k: Int, salt: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // The sort key is an inline expression, not a temp column: a
    // withColumn("__h", ...) would silently destroy a caller column of
    // that name (uniformSample passes ALL caller columns through).
    df.orderBy(TextOps.hash60Salted(col(idCol).cast("string"), salt),
        col(idCol))
      .limit(k)
  }

  /** Deterministic NEGATIVE SAMPLING for contrastive training: for each
    * query id, up to `k` pseudo-random corpus ids that are neither the
    * query itself nor a known positive. Slot i of query q hashes to a
    * bucket (`h60(salt:q:i) % nBuckets`); the slot's negative is the
    * bucket member minimizing an exact 60-bit per-slot hash — so the
    * choice is a pure function of (corpus, salt), reproducible on any
    * engine and partitioning, unlike `rand()`-based samplers.
    *
    * Scale shape: the corpus is bucketed ONCE by an 8-byte hash key; the
    * (query x slot) frame is query-batch-sized and broadcasts; argmin is
    * `min_by` over exact longs (map-side-combined hash aggregate — no
    * sort, no window; doubles would corrupt 60-bit comparisons). A slot
    * whose whole bucket is positives yields no row (up to-k semantics);
    * distinct slots can rarely land the same negative — train-side
    * dedup is the caller's choice, slots are kept in the output.
    */
  def negativeSample(corpus: DataFrame, queries: DataFrame,
                     positives: DataFrame, idCol: String, k: Int,
                     nBuckets: Int, salt: Int = 0): DataFrame = {
    require(k > 0 && nBuckets > 0, s"k and nBuckets must be positive: $k, $nBuckets")
    val cb = corpus.select(col(idCol).as("cand_id"))
      .withColumn("bucket",
        TextOps.hash60(concat_ws(":", lit(salt), col("cand_id"))) % nBuckets)
    val qs = queries.select(col(idCol).as("query_id"))
      .select(col("query_id"), explode(sequence(lit(1), lit(k))).as("slot"))
      .withColumn("bucket",
        TextOps.hash60(concat_ws(":", lit(salt), col("query_id"), col("slot")))
          % nBuckets)
    cb.join(broadcast(qs), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      // positives contract: EXACTLY two columns, (query id, positive id)
      // in that order — the rename is positional, so arity is enforced
      // here (a swapped frame is the caller's bug; a wider frame would
      // silently mis-key the exclusion).
      .join({
        require(positives.columns.length == 2,
          s"positives must have exactly (query_id, positive_id) columns, " +
            s"got ${positives.columns.mkString(", ")}")
        positives.toDF("query_id", "cand_id")
      }, Seq("query_id", "cand_id"), "left_anti")
      .withColumn("h", TextOps.hash60(concat_ws(":",
        lit(salt), col("query_id"), col("slot"), col("cand_id"))))
      .groupBy(col("query_id"), col("slot"))
      .agg(min_by(col("cand_id"), col("h")).as("neg_id"))
  }

  /** Sequence-length bucketing for training batchers: exact interpolated
    * quantile boundaries of the whitespace token count split the corpus
    * into `nBuckets` length classes (bucket = how many boundaries the
    * doc's length meets — ties land in the upper bucket). Batching by
    * length class is what keeps padding waste bounded when packing
    * fixed-size training batches.
    *
    * Scale shape: one count projection, one exact-percentile aggregate
    * producing a single (nBuckets-1)-element row that BROADCASTS, and a
    * codegen'd fold assigns buckets on the second scan — no sort of the
    * data, no shuffle beyond the one aggregate.
    */
  def lengthBuckets(df: DataFrame, idCol: String, textCol: String,
                    nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val tc = df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val ps = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val bounds = tc.agg(
      expr(s"percentile(n_tokens, array(${ps.mkString(", ")}))").as("bs"))
    tc.join(broadcast(bounds), lit(true))
      .select(col(idCol), col("n_tokens"),
        aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(col("n_tokens").cast("double") >= b, 1)
            .otherwise(0))
          .cast("int").as("bucket"))
  }

  /** One BPE-style merge iteration: the `k` most frequent ADJACENT token
    * pairs (count desc, pair asc — deterministic ties), each with its
    * merged form — the candidate-selection step between plain token
    * counting ([[vocabTopK]]) and a real tokenizer-training pipeline (the
    * top row IS the next merge rule).
    *
    * Scale shape: the pair list is a narrow per-row `zip_with` of two
    * slices of the let-bound token array (tokenization runs once per row),
    * counting is one map-side-combined groupBy, and the top-k plans as
    * TakeOrderedAndProject (per-partition bounded heaps) — no window, no
    * global sort. Iterating BPE further just re-runs this over re-merged
    * tokens; every iteration keeps the same one-shuffle shape.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(explode(TextOps.adjacentPairs(col(textCol))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
      .withColumn("merged", regexp_replace(col("pair"), " ", ""))
  }

  /** Apply ONE BPE merge rule `(a, b) → ab` to every document's token
    * stream with the exact greedy left-to-right semantics of BPE
    * tokenizer training (non-overlapping, leftmost-first: `[a,a,a]`
    * under rule `(a,a)` becomes `[aa, a]`, and `[a,a,a,a]` becomes
    * `[aa, aa]`). Returns the merged streams as (id, pos, token) rows —
    * `pos` keeps the pre-merge position of each surviving token, so
    * ordering survives into downstream passes.
    *
    * Greedy selection is a NATIVE per-document array pass
    * ([[graft.functions.BpeGreedyMergeExpr]], codegen'd O(doc) — a doc's
    * tokens always fit one scalar value): the token stream stays one
    * array per document, so applying a rule needs NO window and NO
    * shuffle at any corpus size. (The previous form exploded to a row
    * per token and selected merges relationally, which cost an
    * id-Exchange + sort of the full token stream per rule — and the
    * training loop's per-round `localCheckpoint` erases partitioning
    * under AQE, so consecutive rounds could not even reuse it.)
    */
  def bpeApplyMerge(df: DataFrame, idCol: String, textCol: String,
                    a: String, b: String): DataFrame =
    explodeState(
      tokenState(df, idCol, textCol)
        .select(col(idCol),
          graft.functions.BpeFunctions.greedyMerge(col("pt"), a, b).as("pt")),
      idCol)

  /** Tokenize to the per-document `(pos, token)` struct-array state every
    * BPE pass operates on: original-tokenization positions, empty tokens
    * dropped (a blank doc is an empty array; a null text stays null and
    * drops at explode time, both matching the exploded form).
    */
  private def tokenState(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(
          transform(tokens(col(textCol)),
            (t, i) => struct(i.cast("int").as("pos"), t.as("token"))),
          s => s.getField("token") =!= "").as("pt"))

  /** Flatten a `(pos, token)` state frame back to (id, pos, token) rows. */
  private def explodeState(state: DataFrame, idCol: String): DataFrame =
    state.select(col(idCol), explode(col("pt")).as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.token").as("token"))

  /** Adjacent-pair strings of a `(pos, token)` state array — the zip-
    * against-own-tail shape of [[TextOps.adjacentPairs]], over the kept
    * tokens. No window: adjacency IS array order.
    */
  private def statePairs(pt: Column): Column = {
    val len = greatest(size(pt) - 1, lit(0))
    zip_with(slice(pt, lit(1), len), slice(pt, lit(2), len),
      (x, y) => concat(x.getField("token"), lit(" "), y.getField("token")))
  }

  /** BPE TRAINING LOOP: learn `nMerges` successive merge rules from the
    * corpus — round r counts adjacent pairs over the (r-1)-times-merged
    * token streams, takes the (count desc, pair asc) argmax as rule r,
    * and applies it greedily before the next round. Returns the learned
    * rule table `(round, pair, merged, n)` — the artifact a tokenizer
    * trainer persists.
    *
    * Iteration shape = [[Dedup.dedupClusters]]'s driver loop: each round
    * the merged state is pinned with `localCheckpoint` (the next count
    * must not replay r prior merge cascades), and exactly ONE row — the
    * argmax rule — crosses to the driver per round, because the rule must
    * be a plan literal for the next round's merge expression. O(nMerges)
    * driver rows total, never a data-path collect; per round the ONLY
    * shuffle is the map-side-combined pair-count aggregate (rows ∝
    * distinct pairs, not corpus tokens) — rule application itself is the
    * zero-shuffle native array pass. Stops early if the corpus runs out
    * of adjacent pairs.
    */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
               nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    val (rules, _) = bpeMergeLoop(df, idCol, textCol, nMerges)
    import spark.implicits._
    rules.toDF("round", "pair", "merged", "n")
      .select(col("round").cast("int").as("round"), col("pair"),
        col("merged"), col("n"))
  }

  /** The shared BPE training loop body: learn up to `nMerges` greedy
    * rules AND carry the merged per-document state forward. Returns both
    * the rule table rows and the final `(id, pt)` state frame —
    * [[bpeTrain]] keeps the rules (the trainer's artifact),
    * [[bpeEncode]] keeps the stream (the tokenizer's output). One loop,
    * so the two can never diverge on selection or application semantics.
    */
  private def bpeMergeLoop(df: DataFrame, idCol: String, textCol: String,
                           nMerges: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    var state = tokenState(df, idCol, textCol).transform(Materialize.pin)
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val top = state
        .select(explode(statePairs(col("pt"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect() // exactly one row: the round's merge rule
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val Array(a, b) = pair.split(" ", 2)
        rules += ((r, pair, a + b, top(0).getLong(1)))
        state = state.select(col(idCol),
          graft.functions.BpeFunctions.greedyMerge(col("pt"), a, b).as("pt"))
          .transform(Materialize.pin)
      }
    }
    (rules.result(), state)
  }

  /** BPE ENCODE — the tokenizer APPLY step: train `nMerges` greedy rules
    * (same loop as [[bpeTrain]]) and return every document's final merged
    * token stream as `(id, pos, token)` with positions re-densified to
    * 0..n-1. This is the operator a training pipeline actually runs over
    * the full corpus after the trainer converges; the per-doc token
    * sequence is the model input.
    *
    * Scale shape: the training loop is O(nMerges) driver rows (argmax
    * rules only); rule application is the zero-shuffle native array
    * pass, and the final re-densify is just the array index at explode
    * time (array order IS per-document token order) — no corpus-wide
    * window, sort, or collect exists anywhere.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                nMerges: Int): DataFrame = {
    val (_, state) = bpeMergeLoop(df, idCol, textCol, nMerges)
    state.select(col(idCol), posexplode(col("pt")).as(Seq("newpos", "s")))
      .select(col(idCol), col("newpos").cast("int").as("pos"),
        col("s.token").as("token"))
  }

  /** Write the frozen BPE tokenizer artifact: the greedy rule table
    * [[bpeTrain]] learns plus a one-row `meta` (rule count). Same
    * versioned-artifact posture as the LM and classifier writers: the
    * tokenizer is trained ONCE on a reference corpus; every later
    * corpus encodes against the frozen rules ([[bpeEncodeFrozen]])
    * without retraining — the production split between tokenizer
    * training and the 100 TB encode pass.
    */
  def writeBpeTokenizer(corpus: DataFrame, idCol: String, textCol: String,
                        nMerges: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    bpeTrain(corpus, idCol, textCol, nMerges)
      .write.mode("overwrite").parquet(s"$path/rules")
    Seq(Tuple1(nMerges)).toDF("n_merges")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Apply a FROZEN ordered rule list to a corpus — the tokenizer apply
    * step decoupled from training. Each rule is one zero-shuffle
    * codegen'd array pass (`BpeFunctions.greedyMerge`, exact leftmost
    * non-overlapping semantics); rules chain as nested expressions, with
    * a pin every `pinEvery` rules so expression depth (and codegen
    * method size) stays bounded for real vocabularies — between pins
    * the whole rule block fuses into one generated pass over each
    * document array. No shuffle, window, or sort exists anywhere: the
    * encode pass is embarrassingly parallel over documents.
    *
    * @param rules (a, b) pairs in training round order
    * @return (idCol, pos, token) with positions re-densified to 0..n-1
    */
  def bpeApplyRules(df: DataFrame, idCol: String, textCol: String,
                    rules: Seq[(String, String)],
                    pinEvery: Int = 8): DataFrame = {
    require(pinEvery > 0, s"pinEvery must be positive, got $pinEvery")
    var state = tokenState(df, idCol, textCol)
    var applied = 0
    rules.foreach { case (a, b) =>
      state = state.select(col(idCol),
        graft.functions.BpeFunctions.greedyMerge(col("pt"), a, b).as("pt"))
      applied += 1
      if (applied % pinEvery == 0) state = Materialize.pin(state)
    }
    state.select(col(idCol), posexplode(col("pt")).as(Seq("newpos", "s")))
      .select(col(idCol), col("newpos").cast("int").as("pos"),
        col("s.token").as("token"))
  }

  /** Encode a corpus against a frozen [[writeBpeTokenizer]] artifact:
    * read the rule table (O(nMerges) driver rows — the model, not data),
    * apply in round order. Pure function of (artifact, corpus).
    */
  def bpeEncodeFrozen(spark: org.apache.spark.sql.SparkSession,
                      path: String, df: DataFrame, idCol: String,
                      textCol: String, pinEvery: Int = 8): DataFrame = {
    val rules = spark.read.parquet(s"$path/rules")
      .orderBy(col("round")).select(col("pair")).collect()
      .map { r =>
        val Array(a, b) = r.getString(0).split(" ", 2)
        (a, b)
      }.toSeq
    bpeApplyRules(df, idCol, textCol, rules, pinEvery)
  }

  /** Adjacent-pair counts AFTER applying one merge rule — BPE training
    * iteration 2 (the top row of [[bpePairCounts]] is the rule; this
    * recounts over the re-merged streams, where pairs involving the new
    * symbol now compete). Same top-k shape: map-side-combined count +
    * bounded-heap TakeOrderedAndProject.
    */
  def bpePairCountsAfterMerge(df: DataFrame, idCol: String, textCol: String,
                              a: String, b: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    tokenState(df, idCol, textCol)
      .select(graft.functions.BpeFunctions.greedyMerge(col("pt"), a, b).as("pt"))
      .select(explode(statePairs(col("pt"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
      .withColumn("merged", regexp_replace(col("pair"), " ", ""))
  }

  /** DSIR importance log-weights — Data Selection via Importance
    * Resampling (Xie et al. 2023, arXiv:2302.03169, public): score every
    * corpus document by how much its hashed-n-gram profile looks drawn
    * from the TARGET distribution rather than the raw one,
    *
    *   log w(x) = Σ_grams∈x  ln( p̂_target[h(g)] / p̂_raw[h(g)] )
    *
    * with uni+bigram features hashed into `nBuckets` buckets and
    * add-one-smoothed bucket probabilities. Downstream, resampling
    * proportional to exp(log w) (e.g. [[scoreWeightedSample]]) yields a
    * corpus distributed like the target — the principled version of
    * "keep what looks like Wikipedia".
    *
    * Exactness: per-bucket log-ratios pin to integer micro-nats ONCE
    * (the λ table), per-doc weights are exact long sums of λ values —
    * order-free, engine-exact. The smoothed ratio is formed as a single
    * division of two exact long products,
    * `((ct+1)·(Nr+B)) / ((cr+1)·(Nt+B))` — at extreme corpus sizes
    * (gram count × gram count > 2^62) switch to the log-difference
    * form; fixture scales are exact.
    *
    * Scale shape: gram streams are scan-stage maps; bucket counts are
    * two `nBuckets`-cardinality map-side-combined aggregates; the λ
    * table is `nBuckets` rows and BROADCASTS onto the corpus stream, so
    * the only data-scale shuffle is the final per-doc rollup. Documents
    * with no grams (empty text) drop from the output.
    *
    * @return (idCol, n_grams, logw_units, log_weight)
    */
  /** Guard for [[dsirLogWeights]]'s exact-long λ arithmetic: the
    * smoothed ratio is computed as the LONG products `(ct+1)·(nr+B)` /
    * `(cr+1)·(nt+B)` with per-bucket `ct <= nt`, `cr <= nr` — past
    * ~2^62 total gram-count product they overflow silently and every λ
    * is garbage. The counts are already in hand when this runs, so the
    * check is free; it fails loud with the remedy (sample the larger
    * gram stream — DSIR's λ estimates converge on a sample and the
    * importance ORDER of documents is what resampling consumes).
    * Split out so the guard is testable at real-overflow magnitudes.
    */
  private[llm] def requireDsirExact(nr: Long, nt: Long, nBuckets: Int): Unit = {
    val maxNum = BigInt(nt) + 1
    val maxDen = BigInt(nr) + 1
    if (maxNum * (BigInt(nr) + nBuckets) > Long.MaxValue ||
        maxDen * (BigInt(nt) + nBuckets) > Long.MaxValue)
      throw new IllegalArgumentException(
        s"dsirLogWeights: gram counts (corpus=$nr, target=$nt, " +
          s"nBuckets=$nBuckets) would overflow the exact long λ " +
          "products. Sample the larger gram stream before weighting - " +
          "DSIR's bucket ratios converge on a sample, and document " +
          "importance ORDER is preserved.")
  }

  def dsirLogWeights(corpus: DataFrame, target: DataFrame,
                     idCol: String, textCol: String,
                     nBuckets: Int = 1024,
                     mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    def grams(df: DataFrame): DataFrame =
      Dedup.ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
        .select(col("id"), explode(concat(
          tokens(col(textCol)), adjacentPairs(col(textCol)))).as("g"))
        .filter(col("g") =!= "")
        .select(col("id"), pmod(hash60(col("g")), lit(nBuckets.toLong)).as("b"))
    // The corpus stream feeds the raw counts AND the per-doc scoring
    // join; the target stream is read once for its counts.
    val cb = mat(grams(corpus))
    val tb = grams(target)
    val raw = cb.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = tb.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val nr = cb.count()
    val nt = tb.count()
    require(nr > 0 && nt > 0, "dsirLogWeights: empty corpus or target")
    requireDsirExact(nr, nt, nBuckets)
    // λ[b] only needs buckets with cr >= 1 — a bucket no corpus gram
    // hashes to can never be scored.
    val lam = raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        floor(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1L)) *
            lit(nr + nBuckets)).cast("double") /
            ((col("cr") + lit(1L)) * lit(nt + nBuckets)).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("u"))
    cb.join(broadcast(lam), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("u")).as("logw_units"))
      .select(col("id").as(idCol), col("n_grams"), col("logw_units"),
        (col("logw_units").cast("double") / lit(1e6)).as("log_weight"))
  }

  /** Hashed binary feature rows for the linear quality classifier: one
    * row per (doc, bucket) for every DISTINCT hashed unigram/bigram
    * bucket the doc's text touches (presence features — the fastText /
    * CCNet-classifier convention), plus one bias row `b = -1` per doc
    * (reserved: hashed buckets land in [0, nBuckets)). Shares the DSIR
    * gram stream (tokens + adjacent pairs, hash60 mod nBuckets).
    */
  private def clfFeatures(df: DataFrame, idCol: String, textCol: String,
                          nBuckets: Int): DataFrame =
    Dedup.ensureParallelism(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(concat(
        tokens(col(textCol)), adjacentPairs(col(textCol)))).as("g"))
      .filter(col("g") =!= "")
      .select(col("id"), pmod(hash60(col("g")), lit(nBuckets.toLong)).as("b"))
      .distinct()
      .unionAll(df.select(col(idCol).as("id"), lit(-1L).as("b")))

  /** The pinned sigmoid: probability in integer micro-units from a
    * micro-unit logit. One parenthesization, replicated VERBATIM in the
    * DuckDB oracle (the [[dsirLogWeights]] float convention): saturation
    * is exact in IEEE (exp(+inf) -> p=0, exp(-inf) -> p=1e6), so both
    * engines agree even when the logit is far outside the linear range.
    */
  private def sigmoidUnits(z: Column): Column =
    floor(lit(1000000.0) /
      (lit(1.0) + exp(-(z.cast("double") / lit(1000000.0)))) + lit(0.5))
      .cast("long")

  /** Guard for the classifier's exact update arithmetic: a per-bucket
    * gradient is a sum of per-doc micro-unit errors (|err| <= 1e6), so
    * |grad| <= nDocs * 1e6; the update computes `grad * lr` in DOUBLE,
    * which is exact only below 2^53. Fails loud with the remedy.
    */
  private[llm] def requireClfExact(nDocs: Long, lr: Double): Unit =
    if (nDocs.toDouble * 1e6 * lr > 9.0e15)
      throw new IllegalArgumentException(
        s"trainQualityClassifier: nDocs=$nDocs at lr=$lr puts the " +
          "worst-case gradient*lr product past exact double range " +
          "(2^53). Train on a deterministic sample - the linear " +
          "classifier's bucket weights converge far below this scale.")

  /** Train a linear (logistic-regression) quality classifier over hashed
    * text features — the standard trained corpus-quality filter (a
    * high-quality reference set as positives, the raw crawl as
    * negatives), expressed as deterministic Spark dataflow.
    *
    * Full-batch gradient descent, `iters` fixed rounds. The model is a
    * micro-unit integer weight vector over `nBuckets + 1` buckets
    * (bias = bucket -1), so training is EXACTLY reproducible: per-doc
    * logits are exact long sums of weight units; the sigmoid is pinned
    * to micro-units per doc ([[sigmoidUnits]]); per-bucket gradients
    * are exact long sums of pinned errors; the weight update rounds
    * `grad * lr / nDocs` back to units. An oracle replicating the same
    * pinning reproduces the weights bit-for-bit.
    *
    * Scale shape: the feature stream shuffles twice per round (logits
    * group by doc, gradients group by bucket), both linear in the gram
    * count and map-side combined. The model itself is O(nBuckets) — it
    * rides to the driver per round (exactly the MLlib GD shape: gradients
    * aggregate to the driver, the updated vector broadcasts back), so
    * driver memory is independent of corpus size; the feature frame is
    * pinned once and reused by every round.
    *
    * @param labelCol integer 0/1 column on `df` (1 = quality positive)
    * @return the trained model: one row per feature bucket,
    *         `(b, w_units)` with `w_units` in micro-units (b = -1 is
    *         the bias row)
    */
  def trainQualityClassifier(df: DataFrame, idCol: String, textCol: String,
                             labelCol: String, nBuckets: Int = 1024,
                             iters: Int = 3, lr: Double = 1.0,
                             mat: Materialize = Materialize.Local): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(iters > 0, s"iters must be positive, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    val spark = df.sparkSession
    val feats = mat(clfFeatures(df, idCol, textCol, nBuckets))
    val y = mat(df.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("y")))
    val n = y.count()
    require(n > 0, "trainQualityClassifier: empty input")
    requireClfExact(n, lr)
    val nD = n.toDouble
    import spark.implicits._
    // Driver-held model vector (O(nBuckets), corpus-size-independent).
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    var it = 0
    while (it < iters) {
      val wDf = w.toSeq.toDF("b", "u")
      val z = feats.join(broadcast(wDf), Seq("b"), "left")
        .groupBy(col("id"))
        .agg(coalesce(sum(col("u")), lit(0L)).as("z"))
      val err = z.join(y, Seq("id"))
        .select(col("id"),
          (sigmoidUnits(col("z")) - col("y") * lit(1000000L)).as("err"))
      val grad = feats.join(err, Seq("id"))
        .groupBy(col("b")).agg(sum(col("err")).as("grad"))
        .collect()
      // Update mirrors the oracle verbatim: floor(grad * lr / n + 0.5).
      grad.foreach { r =>
        val b = r.getLong(0)
        val g = r.getLong(1)
        w = w.updated(b,
          w(b) - math.floor(g.toDouble * lr / nD + 0.5).toLong)
      }
      it += 1
    }
    w.toSeq.toDF("b", "w_units")
  }

  /** Exact ROC-AUC for a binary scorer — the evaluation step after
    * [[trainQualityClassifier]] / [[scoreQualityClassifier]]. Computed
    * by the grouped-threshold identity (the Mann–Whitney U statistic
    * with average tie ranks): group rows by score into
    * (n_pos, n_neg) per distinct score, order scores ascending, and sum
    * `n_pos · (2·cumNegBelow + n_neg)` in HALF-units so tie halves stay
    * integer — `AUC = sum / (2·P·N)` exactly.
    *
    * Scale shape: the data-sized pass is ONE map-side-combined
    * aggregate by score; the ordered cumulative runs over the DISTINCT
    * score frame (score-cardinality rows, not data — same trade as the
    * prefix-offset frames elsewhere). Exact long arithmetic end to end;
    * the double materializes at the output edge only.
    *
    * @return one row: (n_pos, n_neg, auc_num_halfunits, auc)
    */
  def binaryAuc(scored: DataFrame, scoreCol: String,
                labelCol: String,
                mat: Materialize = Materialize.Local): DataFrame = {
    val byScore = mat(scored
      .groupBy(col(scoreCol).as("s"))
      .agg(sum(col(labelCol).cast("long")).as("np"),
        sum(lit(1L) - col(labelCol).cast("long")).as("nn")))
    // The numerator is bounded by 2*P*N; past Long.MaxValue the exact
    // long sum overflows SILENTLY (same class as requireDsirExact /
    // requireClfExact). The per-score aggregate is pinned above, so the
    // totals cost one score-cardinality pass, not a second data pass.
    val tot = byScore
      .agg(coalesce(sum(col("np")), lit(0L)),
        coalesce(sum(col("nn")), lit(0L))).head()
    requireAucExact(tot.getLong(0), tot.getLong(1))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cumneg") + col("nn")))
          .as("auc_num_halfunits"))
      .select(col("n_pos"), col("n_neg"), col("auc_num_halfunits"),
        (col("auc_num_halfunits").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"))).as("auc"))
  }

  /** Guard for [[binaryAuc]]'s exact half-unit numerator: the summed
    * statistic is bounded by `2·P·N`, which silently wraps a long at
    * ~4.3B balanced rows. Fails loud with the remedy, mirroring
    * [[requireClfExact]]. The 9.0e18 margin keeps the double-domain
    * comparison itself safely below Long.MaxValue (9.22e18).
    */
  private[llm] def requireAucExact(nPos: Long, nNeg: Long): Unit =
    if (2.0 * nPos.toDouble * nNeg.toDouble > 9.0e18)
      throw new IllegalArgumentException(
        s"binaryAuc: n_pos=$nPos x n_neg=$nNeg puts the half-unit " +
          "numerator bound 2*P*N past exact long range - the rank " +
          "statistic would overflow silently. Evaluate on a " +
          "deterministic sample (hashSplit); AUC is a mean over " +
          "positive x negative pairs and converges far below this " +
          "scale.")

  /** Write the frozen classifier artifact [[trainQualityClassifier]]
    * produces: the weight table plus a one-row `meta` (bucket count and
    * the training config in exact ppm), so a gate can resolve the
    * feature width from the artifact instead of re-deriving it. Same
    * posture as [[TextAnalysis.writeKnLm]]: the quality model is a
    * VERSIONED ARTIFACT trained once on a labeled reference set; ingest
    * gates score against it frozen and never retrain in-band.
    */
  def writeQualityClassifier(corpus: DataFrame, idCol: String,
                             textCol: String, labelCol: String,
                             path: String, nBuckets: Int = 1024,
                             iters: Int = 10, lr: Double = 4.0,
                             mat: Materialize = Materialize.Local): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    trainQualityClassifier(corpus, idCol, textCol, labelCol, nBuckets,
      iters, lr, mat)
      .write.mode("overwrite").parquet(s"$path/weights")
    Seq((nBuckets, iters, math.round(lr * 1e6)))
      .toDF("n_buckets", "iters", "lr_ppm")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Gate a batch against a frozen [[writeQualityClassifier]] artifact:
    * accept iff the exact long logit is positive (the trained decision
    * boundary). Pure function of (artifact, batch) — stateless per
    * batch, integer-exact, so the decision replays identically in any
    * engine. Scale shape: the weight table is O(nBuckets) and
    * broadcast; the only shuffle is the batch's per-doc logit
    * aggregation.
    *
    * @return accepted rows only: (idCol, score_units)
    */
  def clfGateBatch(spark: org.apache.spark.sql.SparkSession,
                   modelPath: String, batch: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    clfGate(spark, modelPath)(batch, idCol, textCol)

  /** [[clfGateBatch]] with the artifact's `meta` row read once, here:
    * the returned function gates any number of batches (a streaming
    * gate builds it when the sink starts). The weights are still read
    * per call.
    */
  def clfGate(spark: org.apache.spark.sql.SparkSession, modelPath: String)
      : (DataFrame, String, String) => DataFrame = {
    val nBuckets = spark.read.parquet(s"$modelPath/meta").head()
      .getAs[Int]("n_buckets")
    (batch, idCol, textCol) =>
      scoreQualityClassifier(batch, spark.read.parquet(s"$modelPath/weights"),
        idCol, textCol, nBuckets)
        .filter(col("pred") === 1)
        .select(col(idCol), col("score_units"))
  }

  /** Score text against a [[trainQualityClassifier]] model: the exact
    * long logit per doc plus the thresholded keep decision. The model
    * frame is broadcast (O(nBuckets)); the only shuffle is the per-doc
    * logit aggregation, linear in the gram count.
    *
    * @return (idCol, score_units, pred) — `score_units` the micro-unit
    *         logit, `pred = 1` iff the logit is positive
    */
  def scoreQualityClassifier(df: DataFrame, model: DataFrame,
                             idCol: String, textCol: String,
                             nBuckets: Int = 1024): DataFrame =
    clfFeatures(df, idCol, textCol, nBuckets)
      .join(broadcast(model.select(col("b"), col("w_units").as("u"))),
        Seq("b"), "left")
      .groupBy(col("id"))
      .agg(coalesce(sum(col("u")), lit(0L)).as("score_units"))
      .select(col("id").as(idCol), col("score_units"),
        (col("score_units") > 0L).cast("int").as("pred"))
}
