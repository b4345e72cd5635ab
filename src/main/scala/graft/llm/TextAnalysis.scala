package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._
import graft.ops.Materialize

/** Per-document text analysis for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting.
  *
  * Everything is a codegen'd column expression over one scan — the whole
  * battery runs in a single narrow projection with no shuffle, so at
  * 100 TB it is embarrassingly parallel and IO-bound, exactly as a
  * pre-training cleaning pass should be.
  */
object TextAnalysis {

  /** Marker stopword profiles per language for the n-gram/stopword
    * language-ID heuristic. Deterministic and tiny — the "model" ships in
    * the plan as literals, not a lookup join.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "una", "con"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不"))

  /** Score for one language = number of the document's tokens (with
    * multiplicity) that are in the language's marker set.
    */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers.map(lit): _*)))

  /** Predicted language: argmax of [[langScore]] with alphabetical
    * tiebreak (profiles are declared in alphabetical order and `greatest`
    * of (score, reverse-alphabetical-rank) picks the first max).
    */
  def langId(text: Column): Column = {
    // Encode (score, lang-rank) into one comparable value: score * 8 +
    // (number of langs - declared index) so ties fall to the earlier
    // (alphabetically first) language. The token array is LET-BOUND once
    // per row and the whole argmax runs inside the lambda — referencing
    // tokens(text) from each profile's score would re-run the
    // trim+lower+regexp+split subtree once per language (see
    // TextOps.wordShingles for the pattern).
    val n = langProfiles.size
    val best = transform(array(tokens(text)), ws =>
      greatest(langProfiles.zipWithIndex.map { case ((lang, markers), i) =>
        struct(
          (size(filter(ws, t => t.isin(markers.map(lit): _*))) * lit(n)
            + lit(n - 1 - i)).as("key"),
          lit(lang).as("lang"))
      }: _*))
    element_at(best, 1).getField("lang")
  }

  /** Quality signals + one combined score, mirroring the usual
    * pre-training heuristics (length, word shape, punctuation density,
    * stopword density). All ratios are exact double divisions of integer
    * counts, so the values are engine-portable.
    */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val stopwords = langProfiles.flatMap(_._2).distinct
    // LET-BIND the token array once per row and emit every token-derived
    // signal from ONE lambda (TextOps.wordShingles pattern): the naive
    // form re-tokenizes the document for each of the three token
    // consumers (Catalyst inlines the referenced subtree per use site).
    // The struct lands as a plain attribute in the intermediate
    // projection, so the field extractions below are cheap references —
    // CollapseProject keeps multi-referenced non-cheap aliases
    // unduplicated.
    val tokSig = element_at(transform(array(tokens(t)), ws => {
      val nTok = size(ws).cast("double")
      struct(
        nTok.as("n_tok"),
        (size(filter(ws, x => length(x) > 3)).cast("double") / nTok)
          .as("long_token_ratio"),
        (size(filter(ws, x => x.isin(stopwords.map(lit): _*))).cast("double") / nTok)
          .as("stopword_ratio"))
    }), 1)
    val nChars = length(col("__t")).cast("double")
    df.select(col(idCol), t.as("__t"), tokSig.as("__s"))
      .select(
        col(idCol),
        nChars.cast("long").as("n_chars"),
        col("__s.n_tok").cast("long").as("n_tokens"),
        (nChars / col("__s.n_tok")).as("chars_per_token"),
        col("__s.long_token_ratio"),
        (regexp_count(col("__t"), lit("[.,;:!?]")).cast("double") / nChars)
          .as("punct_ratio"),
        col("__s.stopword_ratio"))
  }

  /** Scalar quality score in [0, 1]: the mean of three bounded signals —
    * token-length plausibility, punctuation sanity, stopword presence.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = qualitySignals(df, idCol, textCol)
    s.select(col(idCol),
      ((least(col("chars_per_token") / lit(8.0), lit(1.0)) +
        least(col("punct_ratio") * lit(20.0), lit(1.0)) +
        least(col("stopword_ratio") * lit(5.0), lit(1.0))) / lit(3.0))
        .as("quality"))
  }

  /** Corpus-relative quality gate: keep documents whose [[qualityScore]]
    * reaches the corpus `quantile` (default: the median) — the
    * data-derived filter a curation pipeline wants when absolute
    * thresholds drift per corpus. The threshold is exact interpolated
    * `percentile` (engine-portable, unlike approx sketches), fed to the
    * filter as a SCALAR SUBQUERY — one extra scan to score, then a plain
    * scan-stage comparison; no join, no driver round-trip in the plan.
    */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
                  quantile: Double = 0.5): DataFrame = {
    require(quantile > 0 && quantile < 1,
      s"quantile must be in (0, 1), got $quantile")
    val scored = qualityScore(df, idCol, textCol)
    val threshold = scored.agg(
      expr(s"percentile(quality, $quantile)").as("t"))
    scored.filter(col("quality") >=
      org.apache.spark.sql.graft.Bridge.scalarSubquery(threshold))
  }

  /** Token counts: whitespace tokens and BPE-ish subword pieces (letter
    * runs, digit runs, single other chars — the pre-tokenizer split most
    * BPE vocabularies assume).
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(tokens(col(textCol))).cast("long").as("ws_tokens"),
      regexp_count(normalize(col(textCol)), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("long").as("bpe_ish_tokens"))

  /** Polynomial rolling-hash fingerprint of the token stream, mod a prime:
    * f = fold(tokens, 0, (acc, t) → (acc * 31 + h(t) mod P) mod P).
    * Order-sensitive (unlike a bag-of-words hash) and exact in int64, so
    * identical in any engine with a sequential list fold.
    */
  def fingerprint(text: Column): Column = {
    val P = 1000000007L
    aggregate(tokens(text), lit(0L),
      (acc, t) => (acc * 31L + hash60(t) % P) % P)
  }

  /** Per-doc fingerprint frame: id, fingerprint, and the leading-tokens
    * prefix fingerprint (cheap near-head-duplicate signal).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   prefixTokens: Int): DataFrame = {
    val P = 1000000007L
    val prefix = slice(tokens(col(textCol)), 1, prefixTokens)
    df.select(
      col(idCol),
      fingerprint(col(textCol)).as("fp"),
      aggregate(prefix, lit(0L), (acc, t) => (acc * 31L + hash60(t) % P) % P)
        .as("prefix_fp"))
  }

  /** TF-IDF-style term relevance: per (doc, token) term frequency,
    * corpus document frequency, and relevance = tf · N / df — the
    * UNLOGGED tf-idf variant. Deliberately log-free: multiplication and
    * division are exactly-rounded IEEE ops, so the score is bit-identical
    * in any engine, while `ln` implementations may differ in the last ulp
    * (Math.log is not a correctly-rounded operation).
    *
    * Shape at scale: one explode + two count aggregates; df joins back on
    * the token (AQE broadcasts it when the vocabulary is small), and the
    * corpus size joins as a broadcast scalar — no window over the corpus,
    * no driver-side loop.
    */
  /** C4-style LINE-LEVEL BOILERPLATE removal: a line that appears in more
    * than `maxShare` of a group's documents (same source/domain) is
    * template chrome — nav bars, cookie banners, copyright footers — and
    * is stripped from every document of that group. Returns
    * `(id, n_kept_lines, clean_text)`, empty text when everything was
    * boilerplate.
    *
    * Scale shape: lines travel as 60-bit hashes for the frequency pass
    * (8-byte shuffle keys); the line-membership frame is pinned once and
    * feeds both the df count and the rebuild; the boilerplate set is
    * share-thresholded but NOT broadcast-hinted — its size grows with
    * group count x template width (a million domains with hundred-line
    * templates is past broadcast range), so the anti-join keys on
    * (group, hash) and AQE picks broadcast only when it actually fits;
    * the rebuild is one groupBy(id) with an in-group sort of each doc's
    * own lines (bounded by document size, never corpus-wide).
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, maxShare: Double): DataFrame = {
    require(maxShare > 0 && maxShare < 1, s"maxShare must be in (0,1), got $maxShare")
    val lines = Dedup.ensureParallelism(
        df.select(col(idCol), col(groupCol), col(textCol)))
      .select(col(idCol), col(groupCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("h", TextOps.hash60(col("line")))
      .transform(Materialize.pin) // feeds the df count AND the rebuild
    // The doc universe and per-group doc counts both come from the
    // PINNED lines frame (split always yields >= 1 line, so no doc is
    // lost) — re-aggregating the raw input would scan the corpus twice
    // more for facts the pin already holds.
    val docs = lines.select(col(idCol), col(groupCol)).distinct()
    val nDocs = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    // A line repeated inside ONE doc counts once toward its share.
    val boiler = lines.select(col(idCol), col(groupCol), col("h")).distinct()
      .groupBy(col(groupCol), col("h")).agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs), Seq(groupCol))
      .filter(col("df").cast("double") / col("n_docs") > maxShare)
      .select(col(groupCol), col("h"))
    val kept = lines.join(boiler, Seq(groupCol, "h"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept_lines"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean_text"))
    // A doc whose every line was boilerplate still gets a row (empty text).
    docs.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-document n-gram NOVELTY: the share of a document's distinct
    * k-shingles that no other document contains (corpus document
    * frequency 1). High novelty separates genuinely new material from
    * boilerplate/template text during corpus curation — the complement
    * of what the dedup family measures.
    *
    * Scale shape: shingles travel as 60-bit hashes (8-byte shuffle keys,
    * never the strings); the membership frame is pinned once and feeds
    * both the df count and the per-doc join, both shuffles keyed on the
    * hash; the per-doc aggregate is map-side combined. No broadcast of
    * anything corpus-sized.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    val sh = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(TextOps.wordShingles(col(textCol), k)).as("s"))
      .select(col(idCol), TextOps.hash60(col("s")).as("h"))
      .transform(Materialize.pin) // feeds the df count AND the tag-back join
    // wordShingles is distinct-per-doc, so count(*) per hash IS document
    // frequency.
    val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(dfc, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
  }

  def termRelevance(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L): DataFrame = {
    val toks = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nDocs = df.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    tf.join(docFreq, Seq("token"))
      .join(broadcast(nDocs), lit(true))
      .withColumn("relevance",
        (col("tf").cast("double") * col("n_docs").cast("double"))
          / col("df").cast("double"))
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("n_docs"), col("relevance"))
  }

  /** PII redaction patterns, applied in declaration order. RE2-safe
    * subset (no backreferences, no lookaround) so the same patterns run
    * identically under Java regex and RE2-family engines.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"))

  /** PII scrubbing — the redaction pass every public-corpus pipeline runs
    * before training: emails, IPv4 addresses, and phone-shaped digit runs
    * replaced with typed placeholder tokens, plus a per-type match count
    * for redaction accounting. One narrow projection, no shuffle; order
    * of application is fixed ([[piiPatterns]]) so the output is
    * deterministic (counts are measured per pattern on the text as that
    * pattern sees it, i.e. after the previous redactions).
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withCounts = piiPatterns.foldLeft(
      df.select(col(idCol), col(textCol).as("__t"))) {
      case (acc, (name, pattern, replacement)) =>
        acc.withColumn(s"n_$name", regexp_count(col("__t"), lit(pattern)).cast("long"))
          .withColumn("__t", regexp_replace(col("__t"), pattern, replacement))
    }
    withCounts.select(col(idCol) +: col("__t").as("redacted") +:
      piiPatterns.map { case (name, _, _) => col(s"n_$name") }: _*)
  }

  /** Repetition signals (the Gopher-style repetitiousness gate): the
    * most-frequent token n-gram's share of all the document's n-grams.
    * Boilerplate, scraped navigation, and degenerate generations score
    * high; clean prose scores near 1/n_grams.
    *
    * Shape at scale: explode n-grams (hashed to a 60-bit key so the
    * shuffle never carries gram text) → map-side-combined counts per
    * (doc, gram) → max/sum per doc. Two aggregations over one narrow
    * exploded frame — the same explode→combine skeleton as minhash.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol), explode(TextOps.wordShinglesAll(col(textCol), n)).as("g"))
      .select(col(idCol), hash60(col("g")).as("gh"))
    grams.groupBy(col(idCol), col("gh"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_grams"),
        max(col("c")).as("max_gram_freq"))
      .withColumn("max_gram_ratio",
        col("max_gram_freq").cast("double") / col("n_grams").cast("double"))
  }

  /** Corpus-unigram-LM surprisal per document — the CCNet/C4-style
    * "language-model quality" signal at its simplest: score each token
    * by `ln(total_tokens / count(token))` (its corpus surprisal in
    * nats) and average per document. Low = templated/repetitive text,
    * high = rare-token soup; the middle is where training data lives.
    *
    * Cross-engine exactness: `ln` is the one op engines may disagree on
    * in the last ulp, so each token's surprisal is pinned to integer
    * MICRO-NATS (`floor(x·1e6 + 0.5)`, the same guard as the HLL
    * linear-counting branch) BEFORE any cross-row accumulation — the
    * per-doc sums are then exact long arithmetic in any engine and the
    * average derives per row. Shape: one token explode, one map-side-
    * combined vocab count (broadcast back — vocabularies are tiny next
    * to corpora), one scalar total, one per-doc rollup.
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
    val counts = toks.groupBy(col("t"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("tot"))
    toks.join(counts, Seq("t"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        floor(log(col("tot") / col("cnt")) * lit(1e6) + lit(0.5))
          .cast("long").as("u"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("u")).as("sum_unats"))
      .withColumn("avg_surprisal",
        col("sum_unats").cast("double") / col("n_tokens").cast("double")
          / lit(1e6))
  }

  /** Bigram conditional surprisal per document: the mean of
    * -ln p(w2 | w1) over adjacent token pairs, with p(w2 | w1) =
    * c(w1 w2) / c_start(w1) (c_start counts bigrams STARTING with w1, so
    * the conditional normalizes exactly). The next step up from
    * [[unigramSurprisal]] in LM-based quality scoring: low conditional
    * surprisal flags text that is locally predictable (template/boiler
    * text), independent of how rare its vocabulary is.
    *
    * Same exactness recipe as unigram: each pair's surprisal pins to
    * integer micro-nats (floor(x*1e6 + 0.5)) BEFORE the cross-row sum,
    * so per-doc sums are exact long arithmetic in any engine. Pairs come
    * from a narrow zip of the token array against its own tail (the
    * [[Curation.bpePairCounts]] shape) — no per-doc window, no shuffle
    * to FORM pairs; the only shuffles are the two vocab-cardinality
    * count aggregates and the final per-doc rollup. Docs with < 2 tokens
    * have no bigrams and drop from the output.
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                      mat: graft.ops.Materialize = graft.ops.Materialize.Local)
      : DataFrame = {
    // The pair stream feeds THREE consumers (c12, c1, the probe join) —
    // materialize once instead of re-tokenizing the corpus per consumer
    // (the oovRate lesson applied; same Materialize contract as the
    // dedup inverted indexes).
    val bg = mat(Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextOps.adjacentPairs(col(textCol))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1)))
    val c12 = bg.groupBy(col("bg")).agg(count(lit(1)).cast("double").as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).cast("double").as("c1"))
    bg.join(c12, Seq("bg")).join(c1, Seq("w1"))
      .select(col(idCol),
        floor(log(col("c1") / col("c12")) * lit(1e6) + lit(0.5))
          .cast("long").as("u"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("u")).as("sum_unats"))
      .withColumn("avg_bigram_surprisal",
        col("sum_unats").cast("double") / col("n_bigrams").cast("double")
          / lit(1e6))
  }

  /** Interpolated Kneser–Ney bigram surprisal per document — the CCNet
    * recipe (Wenzek et al. 2020, public: score documents by an n-gram
    * LM's perplexity and filter the tail) with the LM trained on the
    * corpus itself, absolute-discount smoothed (Kneser–Ney, the standard
    * n-gram smoothing):
    *
    *   p(w2|w1) = (max(c(w1w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
    *   Pcont(w2) = N1+(·w2) / |distinct bigram types|
    *
    * with discount D = 0.75. Unlike the MLE conditional
    * ([[bigramSurprisal]]), the continuation term scores a word by how
    * many CONTEXTS it follows, not how often — the "San Francisco"
    * effect: "francisco" is frequent but predictable, and KN is what
    * separates genuinely fluent text from stuffed/templated text that
    * merely reuses frequent words. Perplexity is exp(avg_kn_surprisal)
    * — monotone, left to the consumer.
    *
    * Exactness: per-occurrence surprisal pins to integer micro-nats
    * before the cross-row sum (the family convention); the p expression
    * is written in ONE fixed parenthesization replicated verbatim in the
    * oracle, so every IEEE engine rounds identically. Scale shape: the
    * materialized pair stream feeds three vocab-cardinality aggregates
    * (map-side combined) and three lean equi-joins; the bigram-type
    * total is one driver scalar off the smallest aggregate, baked into
    * the plan as a literal. No windows, nothing quadratic.
    */
  def knBigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                        discount: Double = 0.75,
                        mat: graft.ops.Materialize = graft.ops.Materialize.Local)
      : DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    val (bg, c12, c1s, cw, nbt) = knCounts(df, idCol, textCol, mat)
    bg.join(c12, Seq("bg")).join(c1s, Seq("w1")).join(cw, Seq("w2"))
      .select(col(idCol), knUnats(discount, nbt).as("u"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("u")).as("sum_unats"))
      .withColumn("avg_kn_surprisal",
        col("sum_unats").cast("double") / col("n_bigrams").cast("double")
          / lit(1e6))
  }

  /** Write the frozen Kneser–Ney LM artifact [[knBigramSurprisal]]
    * trains inline: the three count tables (`c12`, `c1s`, `cw`) plus a
    * one-row `meta` (bigram-type total, discount in ppm, and the
    * acceptance threshold = the corpus-wide MEAN per-bigram surprisal
    * in exact milli-unats — `sum(u)·1000 div count(u)`, an integer
    * scalar any engine recomputes identically). This is the CCNet
    * posture made explicit: the quality LM is a VERSIONED ARTIFACT
    * trained once on a reference corpus; ingest gates score against it
    * frozen and never retrain in-band.
    */
  def writeKnLm(corpus: DataFrame, idCol: String, textCol: String,
                path: String, discount: Double = 0.75,
                mat: graft.ops.Materialize = graft.ops.Materialize.Local): Unit = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    val (bg, c12, c1s, cw, nbt) = knCounts(corpus, idCol, textCol, mat)
    c12.write.mode("overwrite").parquet(s"$path/c12")
    c1s.write.mode("overwrite").parquet(s"$path/c1s")
    cw.write.mode("overwrite").parquet(s"$path/cw")
    // Threshold: exact integer stats over the training stream's own
    // per-occurrence surprisals (the same u expression the gate scores
    // with), so "accept" means "no worse than the reference corpus'
    // average bigram".
    val thr = bg.join(c12, Seq("bg")).join(c1s, Seq("w1")).join(cw, Seq("w2"))
      .select(knUnats(discount, nbt).as("u"))
      .agg((sum(col("u")) * lit(1000L)).cast("long").as("s"),
        count(lit(1)).as("n"))
      .selectExpr("s div n AS thr").head().getLong(0)
    corpus.sparkSession.createDataFrame(
        Seq((nbt, math.round(discount * 1e6), thr)))
      .toDF("nbt", "discount_ppm", "thr_milliunats")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The shared KN count-table construction — the materialized bigram
    * pair stream, the three count tables (`c12`, `c1s`, `cw`) and the
    * bigram-type total — consumed by BOTH the inline scorer
    * ([[knBigramSurprisal]]) and the artifact writer ([[writeKnLm]]):
    * one copy, so the trained tables and the inline scoring tables
    * cannot drift apart.
    */
  private def knCounts(df: DataFrame, idCol: String, textCol: String,
                       mat: graft.ops.Materialize)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Double) = {
    val bg = mat(Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextOps.adjacentPairs(col(textCol))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1)))
    val c12 = mat(bg.groupBy(col("bg"))
      .agg(count(lit(1)).cast("double").as("c12")))
    // c(w1·) and N1+(w1·) fall out of ONE pass over the pair stream.
    val c1s = bg.groupBy(col("w1"))
      .agg(count(lit(1)).cast("double").as("c1"),
        countDistinct(col("w2")).cast("double").as("nfw"))
    val cw = bg.groupBy(col("w2"))
      .agg(countDistinct(col("w1")).cast("double").as("ncw"))
    (bg, c12, c1s, cw, c12.count().toDouble)
  }

  /** The shared per-occurrence KN surprisal expression (micro-nats):
    * consumed over a frame carrying c12/c1/nfw/ncw.
    */
  private def knUnats(discount: Double, nbt: Double): Column =
    floor(-log(
      (greatest(col("c12") - lit(discount), lit(0.0)) +
        ((lit(discount) * col("nfw")) * (col("ncw") / lit(nbt)))) /
        col("c1"))
      * lit(1e6) + lit(0.5)).cast("long")

  /** Gate a batch against a frozen [[writeKnLm]] artifact: REJECT any
    * document containing a bigram the LM never saw (not representable
    * under the frozen model — itself a quality signal: heavy novelty
    * against a reference corpus is noise, boilerplate soup, or another
    * language), otherwise accept iff the document's exact milli-unat
    * average surprisal is at or below the artifact's stored threshold.
    * Both rules are integer-exact, so the decision replays identically
    * in any engine. Documents with no bigrams at all (< 2 tokens) are
    * rejected — nothing to score under a bigram LM. Scale shape: the
    * batch's bigram stream joins the LM tables on bg/w1/w2
    * (batch-sized probes of vocab-cardinality tables); the corpus
    * never rescans.
    */
  def knGateBatch(spark: org.apache.spark.sql.SparkSession, lmPath: String,
                  batch: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    knGate(spark, lmPath)(batch, idCol, textCol)

  /** [[knGateBatch]] with the artifact's `meta` row read once, here: the
    * returned function gates any number of batches (a streaming gate
    * builds it when the sink starts). The count tables are still read
    * per call.
    */
  def knGate(spark: org.apache.spark.sql.SparkSession, lmPath: String)
      : (DataFrame, String, String) => DataFrame = {
    val meta = spark.read.parquet(s"$lmPath/meta").head()
    val nbt = meta.getAs[Double]("nbt")
    val discount = meta.getAs[Long]("discount_ppm").toDouble / 1e6
    val thr = meta.getAs[Long]("thr_milliunats")
    (batch, idCol, textCol) => {
      val bg = batch.select(col(idCol), col(textCol))
        .select(col(idCol), explode(TextOps.adjacentPairs(col(textCol))).as("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
      val scored = bg
        .join(spark.read.parquet(s"$lmPath/c12"), Seq("bg"), "left")
        .join(spark.read.parquet(s"$lmPath/c1s"), Seq("w1"), "left")
        .join(spark.read.parquet(s"$lmPath/cw"), Seq("w2"), "left")
        .groupBy(col(idCol))
        .agg(sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_unseen"),
          // Unseen rows contribute NULL u — ignored by sum; the unseen
          // counter already rejects those docs.
          sum(when(col("c12").isNotNull, knUnats(discount, nbt))).as("su"),
          count(lit(1)).as("nb"))
        .filter(col("n_unseen") === 0L &&
          (col("su") * lit(1000L)).cast("long") <= lit(thr) * col("nb"))
        .select(col(idCol))
      batch.join(scored, Seq(idCol), "left_semi")
    }
  }

  /** Out-of-vocabulary rate per document against the corpus top-`vocabK`
    * token vocabulary (ties broken (n desc, token asc) — the same
    * deterministic boundary as [[Curation.vocabTopK]]). The coverage
    * check run before committing to a tokenizer vocabulary; the vocab
    * frame is k rows and broadcasts at any corpus size.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabK: Int): DataFrame = {
    val toks = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
    // Vocab derives from the SAME token stream instead of calling
    // vocabTopK(df, ...) — which would re-normalize, re-split, and
    // re-explode the corpus a second time. Identical (count desc, token)
    // selection, half the tokenization cost.
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t"))
      .limit(vocabK)
      .select(col("t")).withColumn("in_v", lit(1))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Winnowing document fingerprints (the Schleimer/Wilkerson/Aiken
    * local-fingerprinting algorithm, the standard behind near-copy
    * detection at corpus scale): slide a `window`-gram window over the
    * document's k-gram hash stream and select each window's MINIMUM
    * hash; the distinct selected hashes are the document's fingerprint
    * set. Guarantee: two documents sharing any run of at least
    * `window + k - 1` consecutive tokens share at least one fingerprint
    * — so fingerprint-equality buckets are a complete candidate filter
    * for long verbatim overlaps at a fraction of the full gram index
    * (expected density 2/(window+1)).
    *
    * Trailing windows shorter than `window` still select their min (same
    * rule both engines), so short documents fingerprint too. The only
    * window function runs per document over its own gram stream —
    * bounded by document length, hash-partitioned by id, never
    * corpus-wide. Output: (id, fp) distinct.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.expressions.Window
    val grams = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(wordShinglesAll(col(textCol), k)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos").cast("int").as("pos"),
        hash60(col("g")).as("h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    grams.select(col(idCol), min(col("h")).over(w).as("fp")).distinct()
  }

  /** Exact bag-of-words cosine similarity join: all document pairs whose
    * term-frequency vectors have cosine ≥ `threshold`, computed over the
    * inverted index (join on shared token hash, never all-pairs).
    *
    * Determinism is the design driver: every cross-row accumulation is
    * an INTEGER sum — `Σ tf²` for norms, `Σ tf_a·tf_b` for dots — so the
    * result is independent of partitioning and merge order (a double
    * fold would drift in the last ulp and break exact oracle parity; tf
    * weighting keeps the sums in int64 up to million-token documents).
    * The cosine derives per pair from the exact integers via IEEE sqrt
    * and one division — both correctly-rounded, engine-identical ops.
    *
    * `maxTokenDf` drops tokens present in more documents than the cap —
    * the stop-token guard against the df² pair blowup on "the"-class
    * tokens (same rule as [[Dedup.ngramJaccardPairs]]); similarity is
    * then over the kept-token vectors. The tf index materializes once
    * and feeds the stop-list, both self-join sides, and the norms.
    */
  def tfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double,
                    maxTokenDf: Long = Long.MaxValue,
                    mat: graft.ops.Materialize = graft.ops.Materialize.Local): DataFrame = {
    val tf = mat(Dedup.ensureParallelism(
        df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .select(col("id"), hash60(col("t")).as("h"))
      .groupBy(col("id"), col("h")).agg(count(lit(1)).as("tf")))
    val kept =
      if (maxTokenDf == Long.MaxValue) tf
      else {
        val stop = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTokenDf).select(col("h"))
        tf.join(broadcast(stop), Seq("h"), "left_anti")
      }
    val norms = kept.groupBy(col("id"))
      .agg(sum(col("tf") * col("tf")).as("nsq"))
    val dots = kept.select(col("id").as("id_a"), col("h"), col("tf").as("tf_a"))
      .join(kept.select(col("id").as("id_b"), col("h"), col("tf").as("tf_b")),
        Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("nsq").as("nsq_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nsq").as("nsq_b")), Seq("id_b"))
      .withColumn("cos",
        col("dot").cast("double") /
          (sqrt(col("nsq_a").cast("double")) * sqrt(col("nsq_b").cast("double"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
