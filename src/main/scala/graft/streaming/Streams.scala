package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}
import graft.ops.Materialize

/** Structured Streaming operators over the events stream.
  *
  * Every transform here is written against a plain DataFrame so the SAME
  * code path serves batch and streaming — Spark's unified model. A batch
  * caller passes `spark.read.parquet(...)`; a streaming caller passes
  * `spark.readStream...` and the identical plan runs incrementally with
  * watermark-driven state eviction. The batch-parity queries in the
  * driver contract (events_tumbling_window, events_session_window) verify
  * these exact window semantics against the DuckDB oracle; the streaming
  * tests replay the same data through MemoryStream and assert equality
  * with the batch result.
  *
  * Scale notes: tumbling/session aggregations shuffle once on the group
  * keys; watermarks bound state so a 100 TB/day stream holds only the
  * open windows per key. The stateful per-key transforms use
  * `mapGroupsWithState` with explicit timeouts for the same reason.
  */
object Streams {

  private val streamLog = org.slf4j.LoggerFactory.getLogger("graft.streaming.Streams")

  /** Tumbling-window event rollup: count + value sum per (window, type).
    * In streaming, `watermark` bounds lateness and evicts closed windows.
    * (`withWatermark` is a no-op in batch — same plan both ways.)
    */
  def tumblingAgg(events: DataFrame, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("tv"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("tv").cast("double").as("total_value"))

  /** Stream-static enrichment: join a (possibly unbounded) event stream
    * against a bounded dimension frame and aggregate per enriched
    * attribute. The static side is re-read per micro-batch (so slowly-
    * changing dims pick up updates) and — dimension-sized — broadcasts:
    * NO stream-side state, no watermark needed, unlike a stream-stream
    * join. The unified API means the identical call is the batch parity
    * query. The canonical lookup shape: events x user/account/device dim.
    */
  def enrichWithStatic(events: DataFrame, dim: DataFrame, key: String,
                       joinType: String = "left"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // Default LEFT: an enrichment lookup must not silently DROP events
    // whose key the (slowly-changing) dim hasn't picked up yet — in
    // streaming a dropped event is gone from the sink permanently, and a
    // later dim update cannot resurrect an already-processed batch.
    // Unmatched keys surface null attributes; pass "inner" to filter.
    events.join(broadcast(dim), Seq(key), joinType)
  }

  /** Gap-based session windows per user: Spark's native `session_window`
    * (state-backed in streaming, plain agg in batch). A session's end is
    * the last event + gap, per session_window semantics.
    */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        col("sv").cast("double").as("session_value"))

  /** Per-window TOP-K events by value: the custom bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]) under streaming window state —
    * trending/leaderboard semantics with O(k) state per window instead
    * of every event. ONE stateful aggregation (streaming-safe in any
    * mode); the heap's merge is what the state store calls between
    * micro-batches, exercised by the MemoryStream parity spec. Ties
    * break on the smaller event id (heap payload order), so results are
    * deterministic and oracle-checkable. Same plan runs batch (the
    * driver parity row) and streaming.
    */
  def windowedTopK(events: DataFrame, windowLen: String, watermark: String,
                   k: Int): DataFrame =
    events
      // NULL-valued or NULL-id events are excluded from ranking BY
      // CONTRACT (explicitly, so the oracle can mirror it — the heap
      // aggregate would skip them silently and diverge from a SQL
      // row_number that ranks NULLs last).
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(graft.functions.AggFunctions.topK(col("value"),
        lpad(col("event_id").cast("string"), 20, "0"), k).as("tk"))
      .select(col("w.start").as("window_start"),
        posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("window_start"), (col("pos") + 1).cast("int").as("rank"),
        col("e.score").as("value"),
        // Fail-loud decode (the topKPerQuery rule): a negative id breaks
        // zero-padded lexical order, so never NULL it silently.
        when(col("e.value").try_cast("long").isNull,
          raise_error(concat(lit("windowed top-k: unparseable id: "),
            col("e.value"))))
          .otherwise(col("e.value").try_cast("long")).as("event_id"))

  /** Sliding-window rate: events per (sliding window, type); window
    * `windowLen` sliding every `slide`.
    */
  def slidingCounts(events: DataFrame, windowLen: String, slide: String,
                    watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"))

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state: running per-user totals via `mapGroupsWithState`.
    * Each micro-batch folds its new events into the user's state and emits
    * the updated running totals. State per key is O(1); a production
    * caller bounding key cardinality would add a timeout policy (note:
    * ProcessingTimeTimeout keeps scheduling timeout batches, so drain-style
    * callers like processAllAvailable never see the query idle).
    */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserRunning(userId, acc.n_events + 1, acc.total_value + e.value)
          }
          state.update(next)
          next
      }
  }

  final case class SessionIn(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionBuf(startMs: Long, lastMs: Long, n: Long, total: Double)
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp, n_events: Long,
                               session_value: Double)

  /** Production sessionizer: per-user gap sessions via
    * `flatMapGroupsWithState` with EVENT-TIME state eviction. Unlike
    * [[runningUserTotals]] (NoTimeout — state lives forever), a session
    * here is flushed and its state REMOVED when the watermark passes
    * `last event + gap`, so state is bounded by (active users x one open
    * session) regardless of how long the stream runs — the property a
    * 100 TB/day clickstream needs. A late event arriving after its
    * session was evicted starts a new session (the only behavior an
    * evicting sessionizer can offer; bound lateness with the watermark).
    *
    * Sessions with in-batch gaps are closed inline; the open tail stays
    * in state with its timeout re-armed. Session end is `last + gap`,
    * matching `session_window` semantics ([[sessionAgg]]).
    *
    * STREAMING-ONLY: in batch mode flatMapGroupsWithState never times
    * out, so open sessions would be dropped — batch callers use
    * [[sessionAgg]] (same semantics, verified equal in StreamsSpec).
    */
  def sessionizeWithTimeout(events: Dataset[SessionIn], gapMs: Long,
                            watermark: String): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    def flush(userId: Long, s: SessionBuf): UserSession =
      UserSession(userId, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.lastMs + gapMs), s.n, s.total)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionIn], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            val out = flush(userId, state.get)
            state.remove()
            Iterator.single(out)
          } else {
            // Micro-batches are not time-ordered; a per-(key, batch) sort
            // is bounded by one user's events in one batch.
            val evs = batch.toIndexedSeq.sortBy(_.ts.getTime)
            var closed = Vector.empty[UserSession]
            var cur = state.getOption
            for (e <- evs) {
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.lastMs < gapMs =>
                  Some(SessionBuf(s.startMs, math.max(s.lastMs, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed :+= flush(userId, s)
                  Some(SessionBuf(t, t, 1L, e.value))
                case None => Some(SessionBuf(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Evict when the watermark passes last + gap (clamped above
              // the current watermark — required by the API when a
              // just-under-the-watermark event would arm it in the past).
              state.setTimeoutTimestamp(
                math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.iterator
          }
      }
  }

  /** Streaming ingestion dedup: drop events whose id was already seen,
    * keeping state only within the watermark horizon. This is THE
    * streaming guard for at-least-once upstreams (replayed Kafka batches,
    * retried uploads): unbounded `dropDuplicates` state would grow
    * forever at 100 TB/day; `dropDuplicatesWithinWatermark` evicts ids
    * once the watermark passes, bounding state to (event rate x
    * watermark). In batch the same call degrades to plain dropDuplicates.
    */
  def dedupWithinWatermark(events: DataFrame, idCols: Seq[String],
                           watermark: String, tsCol: String = "ts"): DataFrame = {
    val withWm = events.withWatermark(tsCol, watermark)
    if (events.isStreaming) withWm.dropDuplicatesWithinWatermark(idCols)
    else withWm.dropDuplicates(idCols)
  }

  /** Stream-stream interval join: pair each left event with right events
    * of the same key within `[left.ts, left.ts + horizon]`. Both sides
    * carry watermarks and the join condition bounds the time range, so
    * Spark can evict buffered state for both inputs — the standard
    * attribution shape (e.g. view -> click within an hour). Works
    * identically in batch (plain range-condition join).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   horizon: String, watermark: String,
                   tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(col(key).as("l_key"), col(tsCol).as("l_ts"),
        col(idCol).as("l_id"))
    val r = right.withWatermark(tsCol, watermark)
      .select(col(key).as("r_key"), col(tsCol).as("r_ts"),
        col(idCol).as("r_id"))
    l.join(r, col("l_key") === col("r_key") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"))
  }

  /** Streaming MERGE sink: each micro-batch upserts
    * ([[graft.ops.Scd.upsert]] semantics — replace on key, append new
    * keys) into a versioned parquet warehouse table.
    *
    * Exactly-once without a table format: version `targetDir/v=<batchId>`
    * is `upsert(previous version, batch)`, written with overwrite. A
    * batch replayed after a crash recomputes from the SAME previous
    * version (later versions cannot exist — the replayed batch is the
    * frontier) and overwrites its own directory: idempotent, so the
    * checkpoint's offset tracking gives end-to-end exactly-once. Readers
    * use [[readUpserted]] (the max committed version); crashed partial
    * writes are ignored because only directories with _SUCCESS count.
    * A committed version beyond the current batchId (checkpoint deleted
    * while targetDir kept state — batchIds restart at 0) fails fast
    * rather than writing versions [[readUpserted]] would never serve.
    *
    * `seqCol`, if set, deterministically keeps the max-seq row per key
    * within a batch (ties broken by preferring the larger tuple is NOT
    * supported — (key, seq) must be unique); without it the batch must
    * already be unique per key.
    *
    * Scale: the merge is the anti-join + union plan — the previous
    * version never shuffles when the batch side broadcasts. Version
    * history grows per batch; compact by retaining only the max version
    * (each version is a full snapshot, not a delta).
    */
  def startUpsertSink(df: DataFrame, targetDir: String, checkpoint: String,
                      keyCols: Seq[String],
                      seqCol: Option[String] = None) =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val updates = seqCol match {
          case Some(sc) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols.map(col): _*).orderBy(col(sc).desc)
            batch.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1).drop("_rn")
          case None => batch.toDF()
        }
        // Replay can legitimately rewrite v=batchId, but a committed
        // version BEYOND the frontier can only mean the checkpoint was
        // deleted/recreated while targetDir kept old state — writing a
        // low-numbered version then would leave readUpserted silently
        // serving the stale old max. Fail fast instead.
        latestVersion(spark, targetDir, below = None)
          .filter(_ > batchId).foreach { v =>
            throw new IllegalStateException(
              s"upsert sink $targetDir has committed version v=$v beyond " +
                s"current batchId=$batchId: the checkpoint was reset while " +
                "target state was retained; refusing to write state that " +
                "readUpserted would ignore")
          }
        val merged = latestVersion(spark, targetDir, below = Some(batchId)) match {
          case Some(prev) =>
            graft.ops.Scd.upsert(
              spark.read.parquet(s"$targetDir/v=$prev"), updates, keyCols)
          case None => updates
        }
        merged.write.mode("overwrite").parquet(s"$targetDir/v=$batchId")
      }
      .start()

  /** The current state of a [[startUpsertSink]] table: its max committed
    * version.
    */
  def readUpserted(spark: SparkSession, targetDir: String): DataFrame =
    latestVersion(spark, targetDir, below = None) match {
      case Some(v) => spark.read.parquet(s"$targetDir/v=$v")
      case None => throw new IllegalStateException(
        s"no committed upsert version under $targetDir")
    }

  /** Max committed (`_SUCCESS`-marked) version id under `dir`, optionally
    * strictly below a bound (the replay case).
    */
  private def latestVersion(spark: SparkSession, dir: String,
                            below: Option[Long]): Option[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val name = p.getName
        if (name.startsWith("v=") &&
            fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          scala.util.Try(name.stripPrefix("v=").toLong).toOption
        else None
      }
      .filter(v => below.forall(v < _))
      .sorted.lastOption
  }

  /** One micro-batch of the streaming INGEST DEDUP GATE: keep only the
    * batch rows whose normalized text is NOT already in the write-time
    * exact-dup index ([[graft.llm.Dedup.writeExactDupIndex]]). The
    * membership check is [[graft.llm.Dedup.probeExactDupIndex]] — a
    * pruned read of the bucket directories the batch hashes into (DPP,
    * or a static key prune when the batch is pinned, as in the gate
    * sinks; the probe picks), md5-verified — then a left-anti join back
    * on the id. The corpus text is never re-read or re-hashed; at
    * 100 TB the gate's cost is the BATCH size, not the corpus size.
    */
  def dedupGateBatch(spark: SparkSession, indexPath: String, batch: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val hits = graft.llm.Dedup
      .probeExactDupIndex(spark, indexPath, batch, idCol, textCol)
      .select(col("query_id").as(idCol)).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
  }

  /** One micro-batch of the streaming NEAR-dup gate: keep only the
    * batch rows whose 120-bit wide simhash is NOT within `maxHamming`
    * of any corpus member — [[graft.llm.Dedup.probeSimhashWideIndex]]
    * (a pruned read of the band directories the batch hashes into,
    * two-word bit_count verify) + left-anti on the id. The near-dup
    * twin of [[dedupGateBatch]]: the exact gate rejects only verbatim
    * (normalized) copies, this one also rejects lightly-edited copies
    * — the boilerplate/near-clone flood a real training-corpus ingest
    * actually sees. Same 100 TB property: cost is the BATCH size.
    */
  def nearDupGateBatch(spark: SparkSession, indexPath: String,
                       batch: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int): DataFrame = {
    val hits = graft.llm.Dedup
      .probeSimhashWideIndex(spark, indexPath, batch, idCol, textCol,
        maxHamming)
      .select(col("query_id").as(idCol)).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
  }

  /** Bounded-small-files maintenance for one gate's growing indexes:
    * every `every` micro-batches, right after that gate's own appends
    * commit (on the gate's thread of [[startGateSink]]; the other gates
    * append and compact concurrently, each to its own indexes), rewrite
    * each index to one file per partition directory via
    * [[graft.llm.Dedup.compactIndex]] ([[graft.llm.BandedIndex
    * .compactLayout]] — one pass over the index, row set unchanged,
    * sidecar preserved, rename-aside swap). The batch does not return
    * until every compaction has swapped, so no probe of the next batch
    * sees an index mid-swap. Without a cadence, a long-running gate stream
    * appends one delta file per (band, bkt) per batch and the probe's
    * per-file open cost grows without bound — the small-files regime
    * the round-10 nBuckets sweep measured. `every <= 0` disables
    * (callers own compaction, e.g. an external nightly job). Replay-
    * safe AND replay-REPAIRING: compaction preserves the row SET while
    * dropping exact-duplicate rows, which only a crash-replayed append
    * (batch committed its appends but not its checkpoint) can create —
    * gate decisions never see them (probes are multiplicity-invariant),
    * and the cadence bounds the silent index growth they cause.
    */
  private def maybeCompactIndexes(spark: SparkSession, indexPaths: Seq[String],
                                  batchId: Long, every: Int): Unit =
    if (every > 0 && (batchId + 1) % every == 0)
      indexPaths.foreach(p => graft.llm.Dedup.compactIndex(spark, p))

  /** One micro-batch of the streaming PERCEPTUAL IMAGE gate: keep only
    * the batch rows (`media_id`, `modality`, `payload` — the
    * [[graft.llm.Multimodal.MediaRecord]] shape) whose 110-bit wide
    * image dHash is NOT within `maxHamming` of any corpus member in
    * the write-time wide hamming index
    * ([[graft.llm.Dedup.probeHammingWideIndex]] — a statically pruned
    * read, since the hashes are pinned, of the band directories the
    * batch hashes into, exact two-word bit_count verify) + left-anti
    * on the id. The multimodal member of
    * the gate family: the exact/near/semantic gates cover text, this
    * one catches the re-uploaded / recompressed / brightness-nudged
    * image flood. Cost is the BATCH size (each delta image decoded
    * once), never the corpus — corpus pixels were decoded once at
    * index build time.
    */
  def imageGateBatch(spark: SparkSession, indexPath: String, batch: DataFrame,
                     maxHamming: Int): DataFrame =
    perceptualGateBatch(spark, indexPath, batch, imageHashKernel, maxHamming)

  /** [[imageGateBatch]]'s AUDIO twin: membership is wide-hamming
    * distance of the 110-bit audio fingerprint
    * ([[graft.llm.Multimodal.decodeAudioHashWide]] — energy-envelope +
    * gain-invariant flux-ratio words) against a
    * [[graft.llm.Dedup.writeHammingWideIndex]] layout over the corpus
    * clips. Catches re-uploaded and lightly-perturbed audio the same
    * way the image gate catches recompressed images.
    */
  def audioGateBatch(spark: SparkSession, indexPath: String, batch: DataFrame,
                     maxHamming: Int): DataFrame =
    perceptualGateBatch(spark, indexPath, batch, audioHashKernel, maxHamming)

  /** [[imageGateBatch]]'s VIDEO twin — the strided-SET member of the
    * perceptual gate family: each arriving AVI decodes to its k=3
    * strided frame signatures ([[graft.llm.Multimodal
    * .extractVideoFrameHashesStridedWide]] — MULTIPLE rows per
    * media_id), and the video is rejected when ANY of its frames is
    * within `maxHamming` of ANY corpus frame row in the write-time
    * strided index (the `EXISTS` reduction of
    * [[graft.llm.Dedup.probeHammingWideIndexSet]] — the same hits, the
    * per-pair min is simply not needed for a membership decision).
    * Closes the first-frame re-encode evasion on the INGEST path: a
    * re-upload whose opening frame was scrambled still shares its
    * later strided frames with the corpus copy, so the set probe
    * catches what first-frame hashing misses.
    */
  def videoGateBatch(spark: SparkSession, indexPath: String, batch: DataFrame,
                     maxHamming: Int): DataFrame =
    perceptualGateBatch(spark, indexPath, batch, videoHashKernel, maxHamming)

  /** The wide image-hash kernel as a (batch → two-word signature frame)
    * function — `(media_id, lo, hi)` with the standard column names the
    * perceptual gates read.
    */
  private def imageHashKernel(batch: DataFrame): DataFrame = {
    implicit val sp: SparkSession = batch.sparkSession
    graft.llm.Multimodal.extractImageHashesWide(
      graft.llm.Multimodal.asMediaDataset(batch)).toDF()
      .select(col("media_id"), col("dhash").as("sig_lo"),
        col("vhash").as("sig_hi"))
  }

  /** The wide audio-fingerprint kernel in the same shape. */
  private def audioHashKernel(batch: DataFrame): DataFrame = {
    implicit val sp: SparkSession = batch.sparkSession
    graft.llm.Multimodal.extractAudioHashesWide(
      graft.llm.Multimodal.asMediaDataset(batch)).toDF()
      .select(col("media_id"), col("ehash").as("sig_lo"),
        col("rhash").as("sig_hi"))
  }

  /** The wide STRIDED video kernel: k=3 evenly-strided frame
    * signatures — deliberately MULTIPLE rows per media_id (the frame
    * SET). [[perceptualGate]] is set-shaped end to end: the
    * probe rejects on any in-budget row, the intra-batch pair scan
    * pairs any two frames of distinct videos, and the append persists
    * every accepted frame row (exactly the
    * [[graft.llm.Dedup.writeHammingWideIndex]] strided-set layout
    * [[graft.queries.LlmQueries.ensureVideoStridedHashWideIndex]]
    * builds).
    */
  private def videoHashKernel(batch: DataFrame): DataFrame = {
    implicit val sp: SparkSession = batch.sparkSession
    graft.llm.Multimodal.extractVideoFrameHashesStridedWide(
      graft.llm.Multimodal.asMediaDataset(batch), k = 3).toDF()
      .select(col("media_id"), col("dhash").as("sig_lo"),
        col("vhash").as("sig_hi"))
  }

  /** One micro-batch of a perceptual gate, generic over the signature
    * kernel: decode the batch ONCE, probe the wide index, keep the rows
    * with no corpus member within `maxHamming`. All perceptual layouts
    * share the (56, 54) two-word geometry, so one body serves every
    * modality.
    */
  private def perceptualGateBatch(spark: SparkSession, indexPath: String,
                                  batch: DataFrame, kernel: DataFrame => DataFrame,
                                  maxHamming: Int): DataFrame = {
    // Decode-once, the SINK posture (round-19): pin the payload batch
    // (its source may be an expensive generator or a non-replayable
    // frame) and the signature kernel's narrow output. Before the pins
    // this body evaluated the batch payload chain once per consumer
    // (kernel, probe double-pass, final anti-join).
    val b = Materialize.pin(batch)
    b.join(perceptualHits(spark, indexPath, Materialize.pin(kernel(b)),
      maxHamming), Seq("media_id"), "left_anti")
  }

  /** The arriving media ids with a corpus member within `maxHamming` in
    * a wide (56, 54) hamming index. The gates pass pinned hashes, which
    * the probe prunes with the static key prune.
    */
  private def perceptualHits(spark: SparkSession, indexPath: String,
                             hashes: DataFrame, maxHamming: Int): DataFrame =
    graft.llm.Dedup.probeHammingWideIndex(spark, indexPath,
      hashes, "media_id", "sig_lo", "sig_hi", nLoBits = 56,
      nHiBits = 54, maxHamming)
      .select(col("query_id").as("media_id")).distinct()

  /** Near-dup pairs (`id_a < id_b`) of a wide (56, 54) signature frame. */
  private def perceptualPairs(hashes: DataFrame, maxHamming: Int): DataFrame =
    graft.llm.Dedup.hammingNearDupPairsWide(hashes, "media_id", "sig_lo",
      "sig_hi", nLoBits = 56, nHiBits = 54, maxHamming)

  /** One micro-batch of the streaming CROSS-MODAL PAIR gate — the
    * ingest-time form of [[graft.llm.CrossModal.pairContamination]]:
    * an arriving (caption, image) training pair is REJECTED when its
    * image perceptually matches a corpus pair's image (wide-hamming ≤
    * `maxHamming` through the write-time image index) while its
    * caption does NOT near-match that same corpus pair's caption
    * (wide-simhash > `capMaxHamming` through the write-time caption
    * index) — accepting it would plant contradictory supervision
    * against the corpus: two near-identical inputs with disagreeing
    * targets. A CONSISTENT re-upload (image matches, caption also
    * near-matches) passes this gate — it is ordinary duplication, the
    * perceptual/text dedup gates' job, not a pair-integrity defect.
    *
    * Both membership checks are the EXISTING banded index probes
    * (batch-sized reads; the batch and its hashes are pinned, so each
    * probe prunes statically); this gate adds only the
    * per-(query, cand) anti-join between their hit sets — no new
    * candidate generation, nothing wider than two ids per row. `batch`
    * carries the [[graft.llm.Multimodal.MediaRecord]] columns plus
    * `captionCol`.
    *
    * ID-DOMAIN CONTRACT: the two corpus indexes MUST be built over the
    * SAME pair-id domain — pair i's image row and caption row carry
    * the identical id (the fixture builders key both on the pair's
    * doc id). The per-(query, cand) anti-join aligns hits BY THAT
    * SHARED ID; indexes keyed in different domains (image media_ids vs
    * caption doc_ids) would never align, silently flagging every
    * image match as contamination.
    *
    * `rejectBoilerplate` adds the INVERSE defect direction (the
    * ingest-time form of [[graft.llm.CrossModal.captionBoilerplate]]):
    * a pair whose CAPTION near-matches a corpus pair's caption while
    * its IMAGE does not perceptually match that same pair's image —
    * template alt-text ("stock photo", "image may contain…") repeated
    * over unrelated images, teaching a captioner to emit the template
    * regardless of input. Symmetric semantics: contamination is
    * ∃ corpus pair (image agrees ∧ caption disagrees); boilerplate is
    * ∃ corpus pair (caption agrees ∧ image disagrees). A consistent
    * re-upload (both agree on the SAME pair) passes both directions —
    * ordinary duplication is the dedup gates' job. Both directions
    * reuse the SAME two probe hit sets; the flag only adds the second
    * anti-join, no new index reads.
    */
  def pairGateBatch(spark: SparkSession,
                    imageIndexPath: String, captionIndexPath: String,
                    batch: DataFrame, captionCol: String, maxHamming: Int,
                    capMaxHamming: Int,
                    rejectBoilerplate: Boolean = false): DataFrame = {
    // Decode-once, the SINK posture (round-19): the body consumes the
    // batch once per decision input (image kernel, caption probe —
    // itself a two-pass plan, batch-id domain, final anti-join), so an
    // un-pinned payload batch re-ran its source ~5x and the image
    // decode once per probe pass.
    val b = Materialize.pin(batch)
    pairGateFromHashes(spark, imageIndexPath, captionIndexPath, b,
      Materialize.pin(imageHashKernel(b)), captionCol, maxHamming,
      capMaxHamming, rejectBoilerplate)
  }

  /** [[pairGateBatch]] with the image signatures supplied ([[pairGate]]'s
    * decode-once path): image mates without a caption mate on the SAME
    * corpus pair flag the arrival (plus the inverse direction under
    * `rejectBoilerplate`).
    *
    * Both hit sets are restricted to candidates OUTSIDE the arriving
    * batch's own id domain before the anti-joins (round-19). Corpus
    * probes already exclude `cand_id == query_id` self-matches; the
    * batch-domain exclusion extends that to SIBLING rows of the same
    * batch, which can only appear in an index through a crash-replayed
    * half-append (captions landed, images didn't). With it, the gate
    * decision is a pure function of (corpus state BEFORE the batch,
    * batch) — exactly-once under replay for BOTH defect directions and
    * ANY append order, instead of relying on caption-before-image
    * ordering to keep one direction safe. Intra-batch pair defects are
    * [[pairGate]]'s separate intra stage, not the corpus decision's job.
    */
  private def pairGateFromHashes(spark: SparkSession, imageIndexPath: String,
                                 captionIndexPath: String, batch: DataFrame,
                                 hashes: DataFrame, captionCol: String,
                                 maxHamming: Int, capMaxHamming: Int,
                                 rejectBoilerplate: Boolean): DataFrame = {
    val batchIds = batch.select(col("media_id").as("cand_id")).distinct()
    val imgHits = graft.llm.Dedup.probeHammingWideIndex(spark,
      imageIndexPath, hashes, "media_id", "sig_lo", "sig_hi", nLoBits = 56,
      nHiBits = 54, maxHamming)
      .select(col("query_id"), col("cand_id"))
      .join(broadcast(batchIds), Seq("cand_id"), "left_anti")
    val capHits = graft.llm.Dedup.probeSimhashWideIndex(spark,
      captionIndexPath, batch, "media_id", captionCol, capMaxHamming)
      .select(col("query_id"), col("cand_id"))
      .join(broadcast(batchIds), Seq("cand_id"), "left_anti")
    val flagged = pairDefects(imgHits, capHits, Seq("query_id", "cand_id"),
      rejectBoilerplate).select(col("query_id").as("media_id")).distinct()
    batch.join(flagged, Seq("media_id"), "left_anti")
  }

  /** The pair defects between an image-match set and a caption-match set
    * keyed on `keys`: image agrees while the caption does not
    * (contamination), plus under `rejectBoilerplate` caption agrees while
    * the image does not.
    */
  private def pairDefects(img: DataFrame, cap: DataFrame, keys: Seq[String],
                          rejectBoilerplate: Boolean): DataFrame = {
    val contaminated = img.join(cap, keys, "left_anti")
    if (rejectBoilerplate)
      contaminated.unionByName(cap.join(img, keys, "left_anti"))
    else contaminated
  }

  /** One micro-batch of the streaming SEMANTIC ingest gate: keep only
    * the batch rows whose embedding has NO corpus bucket-mate with
    * cosine >= `threshold` in the write-time LSH index
    * ([[graft.llm.Similarity.probeLshThreshold]] — a pruned read of
    * the hyperplane-bucket directories the batch hashes into, exact
    * cosine verify) + left-anti on the id. The third gate of the
    * family: the exact gate rejects verbatim (normalized) copies, the
    * near-dup gate lightly-edited copies, and this one PARAPHRASES —
    * rewrites whose surface string shares nothing but whose embedding
    * still matches (the SemDeDup signal, applied at ingest time instead
    * of corpus-rebuild time). Same 100 TB property: cost is the BATCH
    * size times probed-bucket width, never the corpus.
    *
    * `probeTables` > 0 selects the MULTI-PROBE posture (round-18, the
    * [[semanticGate]] default): membership is judged through
    * [[graft.llm.Similarity.probeLshThresholdMultiProbe]] — each
    * arriving vector probes its exact bucket plus every Hamming-1
    * neighbor in the first `min(probeTables, numTables)` tables. The
    * ingest path writes its membership layout at
    * [[graft.llm.Similarity.MultiProbeTables]] tables (index storage
    * ×1 — at 100 TB the index is corpus-sized, so write amplification,
    * not probe width, is the expensive axis) and holds the recall
    * contract by probe expansion instead of table count. 0 = the
    * exact-bucket probe over all `numTables` tables (the compensated-
    * layout posture — right when the layout already paid t(p) tables
    * and probe latency dominates).
    */
  def semanticGateBatch(spark: SparkSession,
                        indexPath: String, batch: DataFrame, idCol: String,
                        vecCol: String, threshold: Double, numPlanes: Int,
                        numTables: Int, probeTables: Int = 0): DataFrame = {
    val probe =
      if (probeTables > 0)
        graft.llm.Similarity.probeLshThresholdMultiProbe(spark, indexPath,
          batch, idCol, vecCol, threshold, numPlanes, numTables,
          probeTables = math.min(probeTables, numTables))
      else
        graft.llm.Similarity.probeLshThreshold(spark, indexPath, batch,
          idCol, vecCol, threshold, numPlanes, numTables)
    val hits = probe.select(col("query_id").as(idCol)).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
  }

  /** Intra-batch semantic clone detection: bucket-mate pairs WITHIN
    * `df` (any shared LSH table bucket, exact cosine >= threshold)
    * yield the LARGER id of each pair — dropping the returned ids
    * keeps the lowest id of each intra-batch semantic-dup group,
    * deterministic and replay-stable (a pure function of the batch).
    * Batch-sized work: candidates form only inside shared buckets,
    * never all-pairs. The intra stage of [[semanticGate]].
    *
    * `probeTables` > 0 mirrors the corpus probe's MULTI-PROBE posture
    * on the intra check: one side's buckets expand to their Hamming-1
    * neighbors over the first `min(probeTables, numTables)` tables
    * (bucket distance is symmetric, so expanding one side of an
    * `id_a < id_b` pair sees every pair the two-sided expansion
    * would), holding the same recall math as the corpus decision on a
    * [[graft.llm.Similarity.MultiProbeTables]]-table layout. 0 = the
    * exact-bucket check over all tables.
    */
  private def semanticIntraBatchDups(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, numPlanes: Int,
                             numTables: Int,
                             probeTables: Int = 0): DataFrame = {
    val nt = if (probeTables > 0) math.min(probeTables, numTables)
      else numTables
    val b = df.select(col(idCol).as("id"),
      posexplode(array((0 until nt).map(t =>
        graft.llm.Similarity.hyperplaneBucket(
          transform(col(vecCol), x => x.cast("double")), numPlanes, t)): _*))
        .as(Seq("tbl", "bucket")))
    val probeSide =
      if (probeTables > 0)
        b.select(col("id"), col("tbl"),
          explode(array(Seq(col("bucket")) ++ (0 until numPlanes).map(j =>
            col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
      else b
    val mates = probeSide
      .select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    mates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .filter(graft.llm.Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
  }

  /** A named batch step: a survivors->survivors stage of a [[Gate]], or
    * the prepare step of [[startGateSink]].
    */
  type Stage = (String, DataFrame => DataFrame)

  /** A stage function whose verdict on a row depends only on that row
    * (by `idCol`) and on frozen or index state, never on the other rows
    * of the frame it gates: the corpus probes and the frozen-artifact
    * filters. [[startGateSink]] decides every such stage at once over
    * the prepared frame, as a keep-set of ids, and applies it in the
    * fold as a left-semi join on `idCol`. That equals `keep(cur)`
    * because `cur` is a subset of the prepared rows and no index
    * changes until the fold ends. Called directly it is `keep`.
    */
  final case class PerRow(idCol: String, keep: DataFrame => DataFrame)
      extends (DataFrame => DataFrame) {
    def apply(df: DataFrame): DataFrame = keep(df)
  }

  /** One gate of [[startGateSink]], three parts: its stages (the corpus
    * decision, a [[PerRow]] stage where its verdict is per row, then for
    * membership gates the keep-lowest-id INTRA-batch
    * check of the same relation, which no corpus probe can see because
    * neither row is a member until the batch commits), the append that
    * grows its indexes with the batch's accepted rows, and the index
    * paths the `compactEvery` cadence rewrites. The frozen-artifact
    * gates append nothing. Every stage takes its session from the frame
    * it gates, the stream's own.
    *
    * Exactly-once on replay, for every membership gate: if the process
    * crashes AFTER the append but before the checkpoint commit, the
    * replayed batch re-probes an index that already holds its own rows —
    * a row's match with its own appended copy has `cand_id == query_id`,
    * which every probe excludes, so the replay makes the same decisions.
    * The double-append leaves duplicate index rows; probes stay correct
    * because hits are id-distinct, and compaction drops them
    * ([[maybeCompactIndexes]]). The intra checks are pure functions of
    * the batch. Chain caveat of keep-lowest-id: in a path a~b~c with
    * a !~ c, both b and c are rejected — strictly more conservative than
    * a sequential arrival, never less.
    */
  final case class Gate(stages: Seq[Stage], append: DataFrame => Unit = _ => (),
                        indexPaths: Seq[String] = Nil)

  /** The EXACT-dup gate: [[dedupGateBatch]] membership in the write-time
    * exact index ([[graft.llm.Dedup.writeExactDupIndex]]), then
    * keep-lowest-id per normalized text hash within the batch. Accepted
    * rows append to the index, so a document accepted in batch N rejects
    * its copies in batch N+1 even under different ids.
    */
  def exactGate(indexPath: String, idCol: String, textCol: String): Gate =
    Gate(Seq(
      ("exact", PerRow(idCol, df => dedupGateBatch(df.sparkSession,
        indexPath, df, idCol, textCol))),
      ("exact_intra", df => df.join(
        df.select(col(idCol),
            md5(graft.llm.TextOps.normalize(col(textCol))).as("__h"))
          .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
          .select(col(idCol)),
        Seq(idCol), "left_semi"))),
      graft.llm.Dedup.appendToExactDupIndex(_, idCol, textCol, indexPath),
      Seq(indexPath))

  /** The NEAR-dup gate: [[nearDupGateBatch]] membership in the
    * wide-simhash index (lightly-edited copies), then a banded
    * [[graft.llm.Dedup.simhashWidePairs]] self-check rejecting every row
    * that near-matches a smaller id of the same batch. Accepted rows
    * append their band rows.
    */
  def nearDupGate(indexPath: String, idCol: String, textCol: String,
                  maxHamming: Int): Gate =
    Gate(Seq(
      ("near", PerRow(idCol, df => nearDupGateBatch(df.sparkSession,
        indexPath, df, idCol, textCol, maxHamming))),
      // simhashWidePairs emits id_a < id_b; dropping every id_b keeps the
      // lowest id of each intra-batch near-dup group.
      ("near_intra", df => df.join(
        graft.llm.Dedup.simhashWidePairs(df, idCol, textCol, maxHamming)
          .select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti"))),
      graft.llm.Dedup.appendToSimhashWideIndex(_, idCol, textCol, maxHamming,
        indexPath),
      Seq(indexPath))

  /** The SEMANTIC gate: [[semanticGateBatch]] membership in the LSH
    * hyperplane index (paraphrases), then [[semanticIntraBatchDups]]
    * within the batch. Accepted rows append their bucket rows
    * ([[graft.llm.Similarity.appendToLshIndex]]).
    *
    * POSTURE (round-18): the gate defaults to MULTI-PROBE membership
    * (`probeTables` = [[graft.llm.Similarity.MultiProbeTables]], clamped
    * to the layout's table count) over a layout written at that many
    * tables: the membership index GROWS with the corpus, so its storage,
    * not the batch-sized probe width, is the binding cost (measured:
    * `llm_lsh_multiprobe_recall` 1.0/1.0/0.9955 across three decades).
    * `probeTables = 0` is the exact-bucket posture over a compensated
    * t(p)-table layout.
    *
    * POSTURE GUARD (round-19): membership semantics are a (layout, probe)
    * PAIR, so building the gate resolves the layout's table count from
    * its sidecar through `spark` (a driver-side read, no Spark job) and
    * logs the posture in effect. A multi-probe posture over a layout
    * with more tables than the multi-probe write posture uses is loud:
    * that width is the compensated layout's, and prefix-probing it
    * changes accept/reject decisions mid-stream.
    */
  def semanticGate(spark: SparkSession, indexPath: String, idCol: String,
                   vecCol: String, threshold: Double, numPlanes: Int,
                   numTables: Int,
                   probeTables: Int = graft.llm.Similarity.MultiProbeTables)
      : Gate = {
    val layoutTables = graft.llm.Similarity.lshIndexTables(spark, indexPath)
    if (probeTables > 0) {
      streamLog.info(s"semantic gate posture at $indexPath: MULTI-PROBE " +
        s"over ${math.min(probeTables, numTables)} of $layoutTables " +
        "layout tables (Hamming-1 bucket expansion)")
      if (layoutTables > graft.llm.Similarity.MultiProbeTables)
        streamLog.warn(s"semantic gate at $indexPath: multi-probe posture " +
          s"(probeTables=$probeTables) over a $layoutTables-table layout, the " +
          "COMPENSATED width built for probeTables = 0: a prefix probe changes " +
          "its membership decisions. Pass probeTables = 0, or rebuild the " +
          s"layout at ${graft.llm.Similarity.MultiProbeTables} tables.")
    } else
      streamLog.info(s"semantic gate posture at $indexPath: EXACT-BUCKET " +
        s"over all $layoutTables layout tables")
    Gate(Seq(
      ("semantic", PerRow(idCol, df => semanticGateBatch(df.sparkSession,
        indexPath, df, idCol, vecCol, threshold, numPlanes, numTables,
        probeTables = probeTables))),
      ("semantic_intra", df => df.join(
        semanticIntraBatchDups(df, idCol, vecCol, threshold, numPlanes,
          numTables, probeTables = probeTables),
        Seq(idCol), "left_anti"))),
      graft.llm.Similarity.appendToLshIndex(_, idCol, vecCol, numPlanes,
        numTables, indexPath),
      Seq(indexPath))
  }

  /** The QUALITY gate, the CCNet perplexity filter: only documents with
    * no LM-unseen bigram scoring at or below the stored mean-surprisal
    * threshold of the FROZEN Kneser–Ney artifact
    * ([[graft.llm.TextAnalysis.knGateBatch]]) pass. Stateless per batch:
    * accepted rows must NOT shift the bar mid-stream, so the decision is
    * a pure function of (artifact, batch). The artifact's `meta` is
    * read once, through `spark`, when the gate is built.
    */
  def qualityGate(spark: SparkSession, lmPath: String, idCol: String,
                  textCol: String): Gate = {
    val kn = graft.llm.TextAnalysis.knGate(spark, lmPath)
    Gate(Seq(("kn", PerRow(idCol, kn(_, idCol, textCol)))))
  }

  /** The TRAINED-CLASSIFIER gate: only documents with a positive logit
    * under the FROZEN [[graft.llm.Curation.writeQualityClassifier]]
    * artifact pass ([[graft.llm.Curation.clfGateBatch]]); stateless per
    * batch like [[qualityGate]]. The LM scores fluency against a
    * reference corpus; the classifier scores membership of a LABELED
    * reference class. The artifact's `meta` is read once, through
    * `spark`, when the gate is built.
    */
  def classifierGate(spark: SparkSession, modelPath: String, idCol: String,
                     textCol: String): Gate = {
    val clf = graft.llm.Curation.clfGate(spark, modelPath)
    Gate(Seq(("clf", PerRow(idCol, df => df.join(
      clf(df, idCol, textCol).select(col(idCol)), Seq(idCol), "left_semi")))))
  }

  /** The signature-decode prepare steps of the media gates: each payload
    * (the [[graft.llm.Multimodal.MediaRecord]] columns) decodes ONCE into
    * a `sigs` array of its wide (sig_lo, sig_hi) signatures — one per
    * image or audio clip, the k=3 strided frame SET per video — carried
    * on its record row. The pinned prepared frame feeds every probe,
    * intra check and append with no re-decode, and survivors land one
    * row per media_id. Pair each with a gate whose index the same kernel
    * built.
    */
  val imageDecode: Stage = ("decode", withSignatures(imageHashKernel))
  val audioDecode: Stage = ("decode", withSignatures(audioHashKernel))
  val videoDecode: Stage = ("decode", withSignatures(videoHashKernel))

  private def withSignatures(kernel: DataFrame => DataFrame)
      : DataFrame => DataFrame = batch =>
    batch.join(kernel(batch).groupBy("media_id")
      .agg(collect_list(struct(col("sig_lo"), col("sig_hi"))).as("sigs")),
      Seq("media_id"))

  /** The (media_id, sig_lo, sig_hi) rows of a decoded frame's `sigs`. */
  private def signatureRows(df: DataFrame): DataFrame =
    df.select(col("media_id"), explode(col("sigs")).as("s"))
      .select(col("media_id"), col("s.sig_lo").as("sig_lo"),
        col("s.sig_hi").as("sig_hi"))

  /** The PERCEPTUAL gate of every media modality (after [[imageDecode]],
    * [[audioDecode]] or [[videoDecode]]): a record is rejected when any
    * of its signatures is within `maxHamming` of a corpus row of the wide
    * hamming index, then when any is within `maxHamming` of a smaller id
    * of the same batch (two videos sharing ANY near-identical frame are
    * batch-mates). Accepted records append every signature row, so a
    * video accepted in batch N rejects its re-uploads in batch N+1 —
    * scrambled-first-frame re-encodes included, through the later
    * strided frames.
    */
  def perceptualGate(indexPath: String, maxHamming: Int): Gate =
    Gate(Seq(
      ("perceptual", PerRow("media_id", df => df.join(perceptualHits(
        df.sparkSession, indexPath, signatureRows(df), maxHamming),
        Seq("media_id"), "left_anti"))),
      // Wide pairs emit id_a < id_b: dropping every id_b keeps the lowest
      // id of each intra-batch near-dup group.
      ("perceptual_intra", df => df.join(
        perceptualPairs(signatureRows(df), maxHamming)
          .select(col("id_b").as("media_id")).distinct(),
        Seq("media_id"), "left_anti"))),
      acc => graft.llm.Dedup.appendToHammingWideIndex(signatureRows(acc),
        "media_id", "sig_lo", "sig_hi", nLoBits = 56, nHiBits = 54,
        maxHamming, indexPath),
      Seq(indexPath))

  /** The CROSS-MODAL PAIR gate (after [[imageDecode]]; records also
    * carry `captionCol`): [[pairGateBatch]]'s corpus decision, then its
    * intra-batch twin — image near-dup pairs WITHIN the survivors whose
    * captions disagree (and, under `rejectBoilerplate`, caption mates
    * whose images do not) reject the larger id. Accepted pairs append
    * their caption band rows THEN their image signatures: the
    * batch-domain exclusion of [[pairGateFromHashes]] already makes a
    * replay's decisions independent of a half-append, and the order is
    * kept as defense in depth. Both indexes share one pair-id domain —
    * [[pairGateBatch]]'s contract. The corpus decision is not
    * [[PerRow]]: its batch-domain exclusion depends on the ids of the
    * frame it gates, so it runs in the fold, on the survivors.
    */
  def pairGate(imageIndexPath: String, captionIndexPath: String,
               captionCol: String, maxHamming: Int, capMaxHamming: Int,
               rejectBoilerplate: Boolean = false): Gate =
    Gate(Seq(
      ("pair", df => pairGateFromHashes(df.sparkSession, imageIndexPath,
        captionIndexPath, df, signatureRows(df), captionCol, maxHamming,
        capMaxHamming, rejectBoilerplate)),
      ("pair_intra", df => df.join(
        pairDefects(
          perceptualPairs(signatureRows(df), maxHamming).select("id_a", "id_b"),
          graft.llm.Dedup.simhashWidePairs(
            df.select(col("media_id"), col(captionCol)), "media_id",
            captionCol, capMaxHamming).select("id_a", "id_b"),
          Seq("id_a", "id_b"), rejectBoilerplate)
          .select(col("id_b").as("media_id")).distinct(),
        Seq("media_id"), "left_anti"))),
      acc => {
        graft.llm.Dedup.appendToSimhashWideIndex(
          acc.select(col("media_id"), col(captionCol)), "media_id",
          captionCol, capMaxHamming, captionIndexPath)
        graft.llm.Dedup.appendToHammingWideIndex(signatureRows(acc),
          "media_id", "sig_lo", "sig_hi", nLoBits = 56, nHiBits = 54,
          maxHamming, imageIndexPath)
      },
      Seq(imageIndexPath, captionIndexPath))

  /** The artifact/index paths of the COMPOSED ingest pipeline — one
    * value so the sink, the audit, and the tests name the seven stages'
    * state identically.
    */
  final case class IngestPipelineConfig(
      exactIndexPath: String, nearDupIndexPath: String, semIndexPath: String,
      lmPath: String, clfModelPath: String, driftRefPath: String,
      nBucketsExact: Int, maxHamming: Int, semThreshold: Double,
      numPlanes: Int, numTables: Int,
      // Semantic-stage posture (round-18): > 0 = MULTI-PROBE membership
      // over the first min(semProbeTables, numTables) tables — the
      // default, paired with a Similarity.MultiProbeTables-table layout
      // (see semanticGate's posture note); 0 = exact-bucket over all
      // numTables tables (the compensated-layout posture).
      semProbeTables: Int = graft.llm.Similarity.MultiProbeTables)

  /** Redact `textCol` in place, carrying `vecCol` through — the frame
    * every decision stage of the composed pipeline operates on.
    */
  private def redactKeepVec(batch: DataFrame, idCol: String,
                            textCol: String, vecCol: String): DataFrame =
    graft.llm.TextAnalysis.redactPii(batch, idCol, textCol)
      .select(col(idCol), col("redacted").as(textCol))
      .join(batch.select(col(idCol), col(vecCol)), Seq(idCol))

  /** The gates of the composed ingest pipeline, over the redacted
    * (idCol, textCol, vecCol) frame — one list shared by
    * [[startIngestPipelineSink]] (fold to the accepted set) and
    * [[ingestPipelineTrace]] (per-stage rejection audit). After PII
    * redaction ([[graft.llm.TextAnalysis.redactPii]] — every stage judges
    * the redacted text a leaked row would actually train on), in
    * contract order: [[exactGate]] (verbatim normalized copies),
    * [[nearDupGate]] (lightly-edited copies), [[semanticGate]]
    * (paraphrases), [[qualityGate]] (the frozen KN-LM fluency filter)
    * and [[classifierGate]] (the frozen trained-quality filter).
    *
    * The membership gates run cheapest-first (an exact hash probe
    * rejects for free what the LSH probe would pay buckets for), each
    * with its intra-batch check, so the composition gates mutually
    * duplicate rows of ONE micro-batch exactly as each gate alone does.
    * Every stage stays batch-sized at any corpus scale.
    *
    * The start-time sidecar checks run here: `cfg.nBucketsExact` against
    * the exact index's sidecar (a config naming another width fails
    * instead of being silently ignored — every probe and append reads
    * the sidecar's width) and the semantic posture guard.
    */
  private def ingestGates(spark: SparkSession, cfg: IngestPipelineConfig,
                          idCol: String, textCol: String,
                          vecCol: String): Seq[Gate] = {
    val built = graft.llm.BandedIndex.paramOf(spark, cfg.exactIndexPath,
      "exactdup-text", "nBuckets")
    require(built == cfg.nBucketsExact.toString,
      s"exact index at ${cfg.exactIndexPath} was built with nBuckets=$built, " +
        s"the pipeline config says ${cfg.nBucketsExact}")
    Seq(exactGate(cfg.exactIndexPath, idCol, textCol),
      nearDupGate(cfg.nearDupIndexPath, idCol, textCol, cfg.maxHamming),
      semanticGate(spark, cfg.semIndexPath, idCol, vecCol, cfg.semThreshold,
        cfg.numPlanes, cfg.numTables, cfg.semProbeTables),
      qualityGate(spark, cfg.lmPath, idCol, textCol),
      classifierGate(spark, cfg.clfModelPath, idCol, textCol))
  }

  /** Per-row audit of the composed pipeline: every arriving row labeled
    * with the FIRST stage that rejected it (`exact`, `exact_intra`,
    * `near`, `near_intra`, `semantic`, `semantic_intra`, `kn`, `clf`)
    * or `accepted`, plus the row's total PII redaction count — the
    * "which gate is eating my data" observability view a production
    * ingest needs, and the full-replay surface the e2e oracle checks.
    * Decision-identical to [[startIngestPipelineSink]] by construction:
    * the same [[ingestGates]], redaction and [[foldStages]], so each
    * stage's survivor frame is the pinned frame the sink folds (and the
    * audit's anti-joins don't replan the whole chain per stage).
    */
  def ingestPipelineTrace(spark: SparkSession, cfg: IngestPipelineConfig,
                          batch: DataFrame, idCol: String, textCol: String,
                          vecCol: String): DataFrame = {
    val nPii = graft.llm.TextAnalysis.redactPii(batch, idCol, textCol)
      .select(col(idCol), graft.llm.TextAnalysis.piiPatterns
        .map { case (n, _, _) => col(s"n_$n") }
        .reduce(_ + _).as("n_pii"))
    val prepared = Materialize.pin(redactKeepVec(batch, idCol, textCol, vecCol))
    val stages = ingestGates(spark, cfg, idCol, textCol, vecCol).flatMap(_.stages)
    val units = new Units(spark, stages.count(perRow))
    val survivors = try foldStages(units, prepared, stages) finally units.close()
    val frames = prepared +: survivors.map(_.frame)
    val rejected = survivors.zipWithIndex.map { case (s, i) =>
      frames(i).select(col(idCol))
        .join(s.frame.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), lit(s.name).as("rejected_by"))
    }
    (rejected :+ frames.last.select(col(idCol), lit("accepted").as("rejected_by")))
      .reduce(_ unionByName _)
      .join(nPii, Seq(idCol))
  }

  /** One stage's per-micro-batch operational metrics — the row shape of
    * the sink's `<monitorPath>_stages/batch_id=N` report: which gate
    * saw how many rows, kept how many, and how long its own work took
    * (`wall_ms`: for a [[PerRow]] stage its decision plus its apply;
    * decisions run concurrently, so stage walls overlap and do not sum
    * to the batch's wall). The "which gate is slow / eating my data"
    * view a production 100 TB ingest needs, complementing
    * [[ingestPipelineTrace]]'s per-ROW decision audit.
    */
  final case class IngestStageMetric(stage: String, stage_idx: Int,
                                     rows_in: Long, rows_out: Long,
                                     wall_ms: Long)

  private def perRow(stage: Stage): Boolean = stage._2.isInstanceOf[PerRow]

  /** The bounded pool of one micro-batch of [[startGateSink]] (and of one
    * [[ingestPipelineTrace]] call). Each unit runs through
    * `SQLExecution.withThreadLocalCaptured`, which carries the calling
    * thread's local properties into the pool thread: the stream's job
    * group, so `stop()` still cancels every unit's jobs, and
    * `streaming.sql.batchId`, so listeners attribute them to the batch.
    * Units are started from the calling thread only. `close()` waits for
    * every unit started, whatever failed, so no unit outlives its batch.
    */
  private final class Units(spark: SparkSession, threads: Int) extends AutoCloseable {
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(threads, 1), (r: Runnable) => {
        val t = new Thread(r, "graft-gate-sink")
        t.setDaemon(true)
        t
      })
    private val started =
      scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.CompletableFuture[_]]

    def run[T](body: => T): java.util.concurrent.CompletableFuture[T] = {
      val f = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)
      started += f
      f
    }

    /** A unit's result, or its own error (not the future's wrapper). */
    def await[T](f: java.util.concurrent.CompletableFuture[T]): T =
      try f.join()
      catch {
        case e: java.util.concurrent.CompletionException if e.getCause != null =>
          throw e.getCause
      }

    /** Waits for every unit started, then rethrows the first error. */
    def awaitAll(): Unit =
      started.toList.map(f => scala.util.Try(await(f)))
        .collectFirst { case scala.util.Failure(e) => e }
        .foreach(e => throw e)

    def close(): Unit =
      try started.foreach(f => scala.util.Try(f.join()))
      finally pool.shutdown()
  }

  /** One stage's survivors in [[foldStages]]: the pinned frame, its row
    * count (observed on the pin's job; the thunk waits for it) and the
    * stage's own wall.
    */
  private final case class Survivors(name: String, frame: DataFrame,
                                     rows: () => Long, wallMs: Long)

  /** THE stage fold of [[startGateSink]] and [[ingestPipelineTrace]],
    * over the pinned `prepared` frame. Every [[PerRow]] stage is decided
    * first, all at once on `units`, over `prepared`: each decision is
    * pinned as the keep-set of its ids. The fold then walks the stages
    * in contract order, applying a per-row stage as a left-semi join of
    * its keep-set on its id column and running every other stage (the
    * intra-batch checks, the pair gate's batch-domain decision) on the
    * survivors. Each survivor frame is pinned, and counted by the pin's
    * own job.
    */
  private def foldStages(units: Units, prepared: DataFrame,
                         stages: Seq[Stage]): Seq[Survivors] = {
    val decisions = stages.map {
      case (_, PerRow(idCol, keep)) => Some(units.run {
        val t = System.nanoTime()
        val ids = Materialize.pin(keep(prepared).select(col(idCol)))
        (ids, System.nanoTime() - t)
      })
      case _ => None
    }
    var cur = prepared
    stages.zip(decisions).map { case ((name, stage), decision) =>
      val (apply, decideNs) = (stage, decision) match {
        case (PerRow(idCol, _), Some(f)) =>
          val (ids, ns) = units.await(f)
          ((df: DataFrame) => df.join(ids, Seq(idCol), "left_semi"), ns)
        case _ => (stage, 0L)
      }
      val t = System.nanoTime()
      val (next, rows) = Materialize.pinCounted(apply(cur))
      cur = next
      Survivors(name, next, rows, (System.nanoTime() - t + decideNs) / 1000000L)
    }
  }

  /** THE streaming gate sink: one `foreachBatch` DAG per micro-batch,
    * its independent units run concurrently on a per-batch pool
    * ([[Units]], one thread per unit that can be in flight at once,
    * shut down when the batch ends).
    *
    *   1. `prepare` (stage 0 — redaction for text, signature decode for
    *      media; pass-through by default) runs once and is pinned: every
    *      decision and the monitor consume it.
    *   2. `monitor`, if set, starts as soon as `prepared` is pinned: it
    *      maps the prepared frame — what ARRIVES, not what survives — to
    *      a report at `monitorPath/batch_id=N` (e.g.
    *      [[graft.ops.Checks.psiAgainstReference]], the drift PSI).
    *   3. [[foldStages]]: every [[PerRow]] stage (corpus probes, frozen
    *      artifacts) is decided at once over `prepared`; the fold walks
    *      the gates' stages in order, applying those decisions as
    *      left-semi joins and running the intra-batch checks on the
    *      survivors. Every survivor frame is pinned BEFORE the appends
    *      mutate the indexes a lazy plan would re-read, and its row
    *      count is observed on the pin's own job.
    *   4. After the fold, concurrently: survivors land in
    *      `outPath/batch_id=N`, overwritten, so a replayed batch (restart
    *      after failure between write and commit) lands in the same
    *      place instead of duplicating — idempotent writes plus the
    *      checkpoint's offset tracking give end-to-end exactly-once, and
    *      readers scan `outPath` as one partitioned table; each gate
    *      appends the survivors to its indexes and then runs
    *      [[maybeCompactIndexes]] on its own indexes, on the
    *      `compactEvery` cadence (a gate's appends and compaction stay in
    *      order; gates own disjoint indexes).
    *   5. A per-batch [[IngestStageMetric]] report (stage, rows in/out,
    *      own wall) lands at `<monitorPath>_stages/batch_id=N`.
    *   6. The batch returns only when every unit has finished. On a
    *      failure it still waits for every unit started before it
    *      rethrows the first error, so no append or index swap can
    *      overlap the next batch's (or the restarted query's) probes.
    *
    * With no gates the sink is the idempotent batchId parquet sink; with
    * `prepare = ("redact", TextAnalysis.redactPii(_, id, text))` it is
    * the PII scrub that runs before anything persists.
    */
  def startGateSink(df: DataFrame, gates: Seq[Gate], outPath: String,
                    monitorPath: String, checkpoint: String,
                    prepare: Stage = ("arrive", identity),
                    monitor: Option[DataFrame => DataFrame] = None,
                    compactEvery: Int = 0): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val stages = gates.flatMap(_.stages)
        // In flight at once: the monitor, plus either every decision
        // (during the fold) or the landing write, each gate's append and
        // the report (after it).
        val units = new Units(spark,
          1 + math.max(stages.count(perRow), gates.size + 2))
        try {
          val t0 = System.nanoTime()
          val (prepared, arrived) =
            Materialize.pinCounted(prepare._2(batch.toDF()))
          val prepareMs = (System.nanoTime() - t0) / 1000000L
          monitor.foreach(m => units.run(m(prepared).write.mode("overwrite")
            .parquet(s"$monitorPath/batch_id=$batchId")))
          val survivors = foldStages(units, prepared, stages)
          val accepted = survivors.lastOption.fold(prepared)(_.frame)
          units.run(accepted.write.mode("overwrite")
            .parquet(s"$outPath/batch_id=$batchId"))
          gates.foreach(g => units.run {
            g.append(accepted)
            maybeCompactIndexes(spark, g.indexPaths, batchId, compactEvery)
          })
          units.run {
            val rows = (arrived +: survivors.map(_.rows)).map(_())
            val metrics = IngestStageMetric(prepare._1, 0, rows.head,
              rows.head, prepareMs) +: survivors.zipWithIndex.map {
              case (s, i) => IngestStageMetric(s.name, i + 1, rows(i),
                rows(i + 1), s.wallMs)
            }
            import spark.implicits._
            metrics.toDF().write.mode("overwrite")
              .parquet(s"${monitorPath}_stages/batch_id=$batchId")
          }
          units.awaitAll()
        } finally units.close()
      }
      .start()

  /** The FLAGSHIP streaming ingest sink: [[startGateSink]] over
    * [[ingestGates]] with redaction as the prepare step, so a document
    * accepted in batch N rejects its verbatim/edited/paraphrased copies
    * in batch N+1, and the drift monitor's nBins-row PSI report of the
    * arriving batch's REDACTED text lengths against the frozen
    * [[graft.ops.Checks.writeDriftReference]] artifact as the monitor.
    * The quality, classifier and drift stages are pure functions of
    * (frozen artifact, batch), so replay stays exactly-once end to end.
    */
  def startIngestPipelineSink(df: DataFrame, cfg: IngestPipelineConfig,
                              outPath: String, monitorPath: String,
                              checkpoint: String, idCol: String,
                              textCol: String, vecCol: String,
                              compactEvery: Int = 0): StreamingQuery =
    startGateSink(df, ingestGates(df.sparkSession, cfg, idCol, textCol,
        vecCol), outPath, monitorPath, checkpoint,
      prepare = ("redact", redactKeepVec(_, idCol, textCol, vecCol)),
      monitor = Some(r => graft.ops.Checks.psiAgainstReference(
        r.sparkSession, cfg.driftRefPath,
        r.select(length(col(textCol)).cast("double").as("__len")), "__len")),
      compactEvery = compactEvery)
}
