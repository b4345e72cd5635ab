package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Top-level so Spark can derive an Encoder (inner classes capture the
  * suite's scope and fail encoding).
  */
case class Ev(ts: java.sql.Timestamp, event_type: String,
              user_id: Long, value: Double)

case class IdEv(event_id: Long, ts: java.sql.Timestamp, event_type: String,
                user_id: Long)

case class IdEv2(event_id: Long, ts: java.sql.Timestamp, value: Double)

case class KV(k: Long, name: String, v: Double, seq: Long)

case class Doc(doc_id: Long, text: String)

case class Vec(vec_id: Long, embedding: Array[Float])

case class DocVec(doc_id: Long, text: String, embedding: Array[Float])

case class PairRec(media_id: Long, modality: String, payload: Array[Byte],
                   caption: String)

/** Streaming semantics: replay the same rows through MemoryStream and
  * assert the incremental result equals the batch result of the SAME
  * transform — the unified-model contract the driver's batch-parity
  * queries (st1/st2) rely on.
  */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val rows = Seq(
    Ev(ts(0), "click", 1, 1.0), Ev(ts(5), "click", 1, 2.0),
    Ev(ts(14), "view", 2, 3.0), Ev(ts(16), "click", 1, 4.0),
    Ev(ts(31), "view", 2, 5.0), Ev(ts(59), "click", 2, 6.0))

  /** Asserts a gate sink's `<mon>_stages/batch_id=N` report for batches
    * 0 until `batches`: stage names in order, each stage's rows_in equal
    * to its predecessor's rows_out, survivors never growing, walls
    * non-negative.
    */
  private def assertStageReports(mon: String, batches: Int,
                                 stages: Seq[String]): Unit =
    for (b <- 0 until batches) {
      val m = spark.read.parquet(s"${mon}_stages/batch_id=$b")
        .select("stage_idx", "stage", "rows_in", "rows_out", "wall_ms")
        .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1)
      assert(m.map(_._2).toSeq === stages, s"batch $b")
      m.sliding(2).foreach {
        case Array(prev, next) => assert(next._3 === prev._4,
          s"batch $b: ${next._2} rows_in ${next._3} != " +
            s"${prev._2} rows_out ${prev._4}")
        case _ => ()
      }
      m.foreach(r => assert(r._4 <= r._3 && r._5 >= 0L))
    }

  test("streaming tumblingAgg over MemoryStream equals the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingAgg(mem.toDF(), "15 minutes", "0 seconds")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_test")
        .orderBy("window_start", "event_type").collect()
      val batch = Streams.tumblingAgg(rows.toDF(), "15 minutes", "0 seconds")
        .orderBy("window_start", "event_type").collect()
      assert(streamed.map(_.toString) === batch.map(_.toString))
      assert(batch.length === 5) // windows 10:00 (click,view), 10:15, 10:30, 10:45
    } finally q.stop()
  }

  test("streaming windowedTopK over MemoryStream equals batch; heap state merges") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IdEv2]
    def t2(m: Int) = java.sql.Timestamp.valueOf(
      if (m < 60) f"2024-01-01 10:$m%02d:00" else f"2024-01-01 11:${m - 60}%02d:00")
    val evs = Seq(
      IdEv2(1L, t2(5), 5.0), IdEv2(2L, t2(10), 9.0),
      IdEv2(3L, t2(20), 9.0), IdEv2(4L, t2(40), 1.0),
      IdEv2(5L, t2(50), 7.0), IdEv2(6L, t2(65), 2.0))
    val q = Streams.windowedTopK(mem.toDF(), "1 hour", "0 seconds", k = 3)
      .writeStream.format("memory").queryName("topk_test")
      .outputMode("complete").start()
    try {
      // Two micro-batches over the SAME window: the second batch's rows
      // must merge into the first's heap state, not replace it.
      mem.addData(evs.take(3): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("topk_test")
        .orderBy("window_start", "rank").collect()
      val batch = Streams.windowedTopK(evs.toDF(), "1 hour", "0 seconds", 3)
        .orderBy("window_start", "rank").collect()
      assert(streamed.map(_.toString) === batch.map(_.toString))
      // 10:00 window: value ties (9.0) break on the smaller event_id.
      val w10 = streamed.filter(_.getAs[Int]("rank") <= 3)
        .take(3).map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
      assert(w10.toSeq === Seq((2L, 9.0), (3L, 9.0), (5L, 7.0)))
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch; equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    val q = Streams.enrichWithStatic(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)   // second micro-batch re-joins the dim
      q.processAllAvailable()
      val streamed = spark.table("enrich_test")
        .orderBy("ts", "user_id").collect()
      val batch = Streams.enrichWithStatic(rows.toDF(), dim, "user_id")
        .orderBy("ts", "user_id").collect()
      assert(streamed.map(_.toString) === batch.map(_.toString))
      assert(streamed.count(_.getAs[String]("tier") == "gold") === 3)
    } finally q.stop()
  }

  test("enrichWithStatic keeps events with no dim match (null attributes)") {
    // A new user's events must NOT vanish from the sink just because the
    // slowly-changing dim hasn't picked the user up yet.
    val dim = Seq((1L, "gold")).toDF("user_id", "tier")
    val out = Streams.enrichWithStatic(rows.toDF(), dim, "user_id")
    assert(out.count() === rows.length)
    assert(out.filter($"tier".isNull).select("user_id").distinct()
      .collect().map(_.getLong(0)) === Array(2L))
    // opt-in inner join filters them
    assert(Streams.enrichWithStatic(rows.toDF(), dim, "user_id", "inner")
      .count() === 3)
  }

  test("streaming sessionAgg over MemoryStream equals the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionAgg(mem.toDF(), "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("session_test")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("session_test")
        .orderBy("user_id", "session_start").collect()
      val batch = Streams.sessionAgg(rows.toDF(), "30 minutes", "0 seconds")
        .orderBy("user_id", "session_start").collect()
      assert(streamed.map(_.toString) === batch.map(_.toString))
      // user 1: one session (0,5,16); user 2: one session too - gaps
      // 14->31 (17 min) and 31->59 (28 min) are both under the 30-min gap.
      assert(batch.map(r => (r.getLong(0), r.getLong(3))).toSeq
        === Seq((1L, 3L), (2L, 3L)))
    } finally q.stop()
  }

  test("runningUserTotals keeps per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.UserEvent]
    val q = Streams.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try {
      mem.addData(Streams.UserEvent(1, 10.0), Streams.UserEvent(1, 5.0))
      q.processAllAvailable()
      mem.addData(Streams.UserEvent(1, 2.5), Streams.UserEvent(2, 1.0))
      q.processAllAvailable()
      val last = spark.table("state_test")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("total_value").as("v"))
        .orderBy("user_id").collect()
      assert(last(0).getLong(1) === 3 && last(0).getDouble(2) === 17.5)
      assert(last(1).getLong(1) === 1 && last(1).getDouble(2) === 1.0)
    } finally q.stop()
  }

  test("file-source streaming over a growing directory equals batch") {
    val dir = java.nio.file.Files.createTempDirectory("stream_src").toString
    rows.take(3).toDF().write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(rows.toDF().schema).parquet(dir)
    val q = Streams.tumblingAgg(stream, "15 minutes", "0 seconds")
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      rows.drop(3).toDF().write.mode("append").parquet(dir) // late-arriving files
      q.processAllAvailable()
      val streamed = spark.table("file_stream_test")
        .orderBy("window_start", "event_type").collect()
      val batch = Streams.tumblingAgg(spark.read.parquet(dir), "15 minutes", "0 seconds")
        .orderBy("window_start", "event_type").collect()
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally q.stop()
  }

  test("foreachBatch parquet sink writes idempotent batch directories") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("sink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sink_ckpt").toString
    val mon = java.nio.file.Files.createTempDirectory("sink_mon").toString + "/mon"
    val mem = MemoryStream[Ev]
    // No gates, default pass-through prepare: the plain parquet sink.
    val q = Streams.startGateSink(
      mem.toDF().select($"event_type", $"user_id", $"value"), Nil, out, mon,
      ckpt)
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val written = spark.read.parquet(out)
      assert(written.count() === rows.size)
      assert(written.select("batch_id").distinct().count() >= 2)
      assertStageReports(mon, 2, Seq("arrive"))
      // re-writing the same batch dir (replay) must not duplicate
      val before = spark.read.parquet(out).count()
      rows.take(3).toDF().select($"event_type", $"user_id", $"value")
        .write.mode("overwrite").parquet(s"$out/batch_id=0")
      assert(spark.read.parquet(out).count() === before)
    } finally q.stop()
  }

  test("parquet sink resumes from checkpoint after restart without duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    val mon = java.nio.file.Files.createTempDirectory("restart_mon").toString + "/mon"
    val mem = MemoryStream[Ev]
    val sel = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"event_type", $"user_id", $"value")
    val q1 = Streams.startGateSink(sel(mem.toDF()), Nil, out, mon, ckpt)
    try {
      mem.addData(rows.take(3): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart with the SAME checkpoint: offsets resume, batch ids continue
    val q2 = Streams.startGateSink(sel(mem.toDF()), Nil, out, mon, ckpt)
    try {
      mem.addData(rows.drop(3): _*)
      q2.processAllAvailable()
      val written = spark.read.parquet(out)
      assert(written.count() === rows.size) // each row exactly once
      assert(written.groupBy("event_type", "user_id", "value").count()
        .filter($"count" > 1).count() === 0)
      assertStageReports(mon, 2, Seq("arrive"))
    } finally q2.stop()
  }

  test("upsert sink merges micro-batches; state survives restart") {
    implicit val sqlCtx = spark.sqlContext
    val tgt = java.nio.file.Files.createTempDirectory("upsert_tgt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
    val mem = MemoryStream[KV]
    val q1 = Streams.startUpsertSink(mem.toDF(), tgt, ckpt,
      keyCols = Seq("k"), seqCol = Some("seq"))
    try {
      // batch 0: initial keys; within-batch dup on k=2 resolved by max seq
      mem.addData(KV(1, "a", 10.0, 1), KV(2, "b", 20.0, 1), KV(2, "b2", 21.0, 2))
      q1.processAllAvailable()
      // batch 1: update k=1, insert k=3
      mem.addData(KV(1, "a2", 11.0, 3), KV(3, "c", 30.0, 1))
      q1.processAllAvailable()
    } finally q1.stop()
    val mid = Streams.readUpserted(spark, tgt)
      .select("k", "name", "v").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(mid === Seq((1L, "a2", 11.0), (2L, "b2", 21.0), (3L, "c", 30.0)))
    // restart on the SAME checkpoint: merge continues from committed state
    val q2 = Streams.startUpsertSink(mem.toDF(), tgt, ckpt,
      keyCols = Seq("k"), seqCol = Some("seq"))
    try {
      mem.addData(KV(2, "b3", 22.0, 4), KV(4, "d", 40.0, 1))
      q2.processAllAvailable()
    } finally q2.stop()
    val fin = Streams.readUpserted(spark, tgt)
      .select("k", "name", "v").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(fin === Seq((1L, "a2", 11.0), (2L, "b3", 22.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("upsert sink fails fast on a reset checkpoint over retained state") {
    implicit val sqlCtx = spark.sqlContext
    val tgt = java.nio.file.Files.createTempDirectory("upsert_reset").toString
    val ckpt1 = java.nio.file.Files.createTempDirectory("upsert_ck1").toString
    val mem1 = MemoryStream[KV]
    val q1 = Streams.startUpsertSink(mem1.toDF(), tgt, ckpt1,
      keyCols = Seq("k"), seqCol = Some("seq"))
    try {
      mem1.addData(KV(1, "a", 10.0, 1)); q1.processAllAvailable()
      mem1.addData(KV(2, "b", 20.0, 1)); q1.processAllAvailable()
    } finally q1.stop()
    // "Operator error": checkpoint wiped, target retained. batchIds
    // restart at 0 below the committed v=1 → the sink must refuse, not
    // write a v=0 that readUpserted would silently ignore.
    val ckpt2 = java.nio.file.Files.createTempDirectory("upsert_ck2").toString
    val mem2 = MemoryStream[KV]
    val q2 = Streams.startUpsertSink(mem2.toDF(), tgt, ckpt2,
      keyCols = Seq("k"), seqCol = Some("seq"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        mem2.addData(KV(9, "x", 90.0, 1))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    assert(ex.getMessage.contains("checkpoint was reset") ||
      Option(ex.getCause).exists(_.getMessage.contains("checkpoint was reset")))
    // State is untouched: still the old max version.
    val kept = Streams.readUpserted(spark, tgt).select("k").orderBy("k")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L, 2L))
  }

  test("streaming dedup gate rejects corpus dups and cross-batch dups " +
    "of accepted rows; index grows with accepted rows only") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      Doc(1L, "alpha beta gamma"), Doc(2L, "delta epsilon zeta")).toDF()
    val root = java.nio.file.Files.createTempDirectory("gate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Dedup.writeExactDupIndex(corpus, "doc_id", "text", 8, idx)
      val mem = MemoryStream[Doc]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.exactGate(idx, "doc_id", "text")), out, s"$root/mon", ckpt)
      try {
        // Batch 0: a corpus dup (case/space noise) and a novel doc.
        mem.addData(
          Doc(10L, "  ALPHA beta   GAMMA "), Doc(11L, "eta theta iota"))
        q.processAllAvailable()
        // Batch 1: a dup of batch 0's ACCEPTED doc under a new id (must
        // be rejected via the cross-batch index append) and a novel doc.
        mem.addData(
          Doc(12L, "ETA theta  iota"), Doc(13L, "kappa lambda mu"))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().sorted
      assert(accepted === Array(11L, 13L))
      assertStageReports(s"$root/mon", 2, Seq("arrive", "exact", "exact_intra"))
      // The gate's batch body agrees with a direct batch probe of the
      // final index: everything already admitted is now a member.
      val replay = Streams.dedupGateBatch(spark, idx,
        Seq(Doc(20L, "eta THETA iota"), Doc(21L, "kappa lambda mu"),
          Doc(22L, "nu xi omicron")).toDF(), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
      assert(replay === Array(22L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming QUALITY gate accepts reference-like text, rejects " +
    "LM-unseen bigrams and over-threshold surprisal; stateless replay") {
    implicit val sqlCtx = spark.sqlContext
    // Reference corpus: a strongly repetitive phrase (low surprisal) and
    // one rarer sentence so the mean threshold sits between them.
    val corpus = ((1L to 8L).map(i => Doc(i, "the cat sat on the mat")) :+
      Doc(9L, "a dog ran under the table and the cat sat")).toDF()
    val root = java.nio.file.Files.createTempDirectory("qgate").toString
    val (lm, out, ckpt) = (s"$root/lm", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.TextAnalysis.writeKnLm(corpus, "doc_id", "text", lm)
      val mem = MemoryStream[Doc]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.qualityGate(spark, lm, "doc_id", "text")), out, s"$root/mon", ckpt)
      try {
        // 10: corpus-typical (all bigrams frequent) -> accept.
        // 11: novel bigram ("mat sat" never seen) -> reject.
        // 12: all-seen bigrams but the rare ones only -> over threshold.
        mem.addData(Doc(10L, "the cat sat on the mat"),
          Doc(11L, "the cat mat sat"))
        q.processAllAvailable()
        mem.addData(Doc(12L, "a dog ran under the table"))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().sorted
      assert(accepted.contains(10L) && !accepted.contains(11L))
      assert(!accepted.contains(12L), "all-rare-bigram doc must sit above " +
        "the corpus-mean threshold")
      assertStageReports(s"$root/mon", 2, Seq("arrive", "kn"))
      // The gate is stateless per batch: a direct batch call against the
      // frozen artifact makes the identical decision.
      val again = graft.llm.TextAnalysis.knGateBatch(spark, lm,
        Seq(Doc(20L, "the cat sat on the mat"), Doc(21L, "the cat mat sat"))
          .toDF(), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
      assert(again === Array(20L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming CLASSIFIER gate accepts positive-logit docs against " +
    "the frozen model; stateless replay") {
    implicit val sqlCtx = spark.sqlContext
    // Labeled reference set: positives all carry the marker token.
    val corpus = (0 until 40).map { i =>
      val base = s"alpha beta gamma doc$i common words here"
      Doc(i.toLong, if (i % 2 == 1) s"$base marker" else base)
    }.toDF().withColumn("y",
      array_contains(graft.llm.TextOps.tokens(col("text")), "marker")
        .cast("int"))
    val root = java.nio.file.Files.createTempDirectory("cgate").toString
    val (model, out, ckpt) = (s"$root/model", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Curation.writeQualityClassifier(corpus, "doc_id", "text",
        "y", model)
      val mem = MemoryStream[Doc]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.classifierGate(spark, model, "doc_id", "text")), out,
        s"$root/mon", ckpt)
      try {
        mem.addData(Doc(100L, "alpha beta gamma common words here marker"),
          Doc(101L, "alpha beta gamma common words here"))
        q.processAllAvailable()
        mem.addData(Doc(102L, "gamma alpha marker words"))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().sorted
      assert(accepted === Array(100L, 102L))
      assertStageReports(s"$root/mon", 2, Seq("arrive", "clf"))
      // Stateless per batch: the direct batch call against the frozen
      // artifact makes the identical decision.
      val again = graft.llm.Curation.clfGateBatch(spark, model,
        Seq(Doc(200L, "alpha common words marker"),
          Doc(201L, "alpha common words")).toDF(), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
      assert(again === Array(200L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming PII-redaction transform scrubs every micro-batch " +
    "before it lands; replay after restart is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pgate").toString
    val (out, ckpt) = (s"$root/out", s"$root/ckpt")
    try {
      val mem = MemoryStream[Doc]
      // Redaction as the prepare step of a gate sink with no gates.
      def start() = Streams.startGateSink(mem.toDF(), Nil, out, s"$root/mon",
        ckpt, prepare = ("redact",
          df => graft.llm.TextAnalysis.redactPii(df, "doc_id", "text")))
      val q = start()
      try {
        mem.addData(
          Doc(1L, "mail bob@example.com or call +1 (555) 010-2233 now"),
          Doc(2L, "perfectly clean prose with no identifiers"))
        q.processAllAvailable()
        mem.addData(Doc(3L, "server at 10.0.3.7 pinged twice: 10.0.3.8"))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.read.parquet(out)
        .select("doc_id", "redacted", "n_email", "n_ipv4", "n_phone")
        .as[(Long, String, Long, Long, Long)].collect()
        .sortBy(_._1)
      assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L))
      // Raw PII never reaches the sink; typed placeholders do.
      assert(rows(0)._2 === "mail <EMAIL> or call <PHONE> now")
      assert((rows(0)._3, rows(0)._5) === ((1L, 1L)))
      assert(rows(1)._2 === "perfectly clean prose with no identifiers")
      assert((rows(1)._3, rows(1)._4, rows(1)._5) === ((0L, 0L, 0L)))
      assert(rows(2)._2 === "server at <IP> pinged twice: <IP>")
      assert(rows(2)._4 === 2L)
      // Restart from the same checkpoint: committed offsets resume,
      // late data lands in a NEW batch dir, and the earlier output is
      // untouched (per-batch overwrite idempotence).
      val q2 = start()
      try {
        mem.addData(Doc(4L, "reach eve@corp.io"))
        q2.processAllAvailable()
      } finally q2.stop()
      val after = spark.read.parquet(out)
        .select("doc_id", "redacted").as[(Long, String)].collect().toMap
      assert(after.keySet === Set(1L, 2L, 3L, 4L))
      assert(after(4L) === "reach <EMAIL>")
      assertStageReports(s"$root/mon", 3, Seq("redact"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming drift monitor scores every micro-batch against the " +
    "frozen reference; identical distribution reads zero, a shift alarms") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("dgate").toString
    val (ref, out, ckpt) = (s"$root/ref", s"$root/out", s"$root/ckpt")
    try {
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
      // Reference: uniform 1..100.
      graft.ops.Checks.writeDriftReference(
        (1 to 100).map(i => IdEv2(i.toLong, ts(i), i.toDouble)).toDF(),
        "value", nBins = 10, path = ref)
      val mem = MemoryStream[IdEv2]
      // The PSI report is the monitor of a gate sink with no gates: it
      // lands at the monitor path, the pass-through rows beside it.
      val q = Streams.startGateSink(mem.toDF(), Nil, s"$root/rows", out,
        ckpt, monitor = Some(b => graft.ops.Checks.psiAgainstReference(
          b.sparkSession, ref, b, "value")))
      try {
        // Batch 0: same uniform shape -> PSI 0 in every bin.
        mem.addData((1 to 100).map(i =>
          IdEv2(1000L + i, ts(i), i.toDouble)): _*)
        q.processAllAvailable()
        // Batch 1: everything piled far above the range -> clamps into
        // the top bin, large positive PSI there.
        mem.addData((1 to 100).map(i =>
          IdEv2(2000L + i, ts(i), 500.0 + i)): _*)
        q.processAllAvailable()
      } finally q.stop()
      val b0 = spark.read.parquet(s"$out/batch_id=0")
        .agg(sum(abs(col("psi_micro")))).as[Long].head()
      assert(b0 === 0L)
      val b1 = spark.read.parquet(s"$out/batch_id=1")
        .select("bin", "n_new", "psi_micro")
        .as[(Int, Long, Long)].collect().sortBy(_._1)
      assert(b1(9)._2 === 100L)   // every arrival clamped into bin 9
      assert(b1.map(_._3).sum > 250000L)  // far past the 0.25 alarm
      // The report is nBins rows per batch, rows never dropped.
      assert(b1.length === 10)
      assertStageReports(out, 2, Seq("arrive"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming NEAR-dup gate rejects edited copies and cross-batch " +
    "near-dups of accepted rows via the wide-simhash index") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      Doc(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Doc(2L, "lambda mu nu xi omicron pi rho sigma tau upsilon")).toDF()
    val root = java.nio.file.Files.createTempDirectory("ngate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Dedup.writeSimhashWideIndex(corpus, "doc_id", "text",
        maxHamming = 7, nBuckets = 8, path = idx)
      val mem = MemoryStream[Doc]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.nearDupGate(idx, "doc_id", "text", maxHamming = 7)), out,
        s"$root/mon", ckpt)
      try {
        // Batch 0: a REORDERED copy of corpus doc 1 (same token bag,
        // different string — verbatim membership misses it, the
        // bag-of-words simhash is IDENTICAL: hamming 0) and a novel doc
        // from a disjoint vocabulary.
        mem.addData(
          Doc(10L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
          Doc(11L, "quark lepton boson hadron meson photon gluon tachyon axion neutrino"))
        q.processAllAvailable()
        // Batch 1: a verbatim copy of batch 0's ACCEPTED novel doc under
        // a new id (cross-batch append: hamming 0 vs the grown index)
        // and another disjoint-vocabulary novel doc.
        mem.addData(
          Doc(12L, "quark lepton boson hadron meson photon gluon tachyon axion neutrino"),
          Doc(13L, "red orange yellow green blue indigo violet white black grey"))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().sorted
      assert(accepted === Array(11L, 13L))
      assertStageReports(s"$root/mon", 2, Seq("arrive", "near", "near_intra"))
      // Gate body agrees with a direct probe of the final (grown) index.
      val replay = Streams.nearDupGateBatch(spark, idx,
        Seq(Doc(20L, "grey black white violet indigo blue green yellow orange red"),
          Doc(21L, "totally fresh words appear nowhere else in any corpus document here")).toDF(),
        "doc_id", "text", maxHamming = 7)
        .select("doc_id").as[Long].collect().sorted
      assert(replay === Array(21L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming NEAR-dup gate rejects intra-batch clones: lowest id of " +
    "a same-batch near-dup group wins, only survivors enter the index") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      Doc(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF()
    val root = java.nio.file.Files.createTempDirectory("ngate2").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Dedup.writeSimhashWideIndex(corpus, "doc_id", "text",
        maxHamming = 7, nBuckets = 8, path = idx)
      val mem = MemoryStream[Doc]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.nearDupGate(idx, "doc_id", "text", maxHamming = 7)), out,
        s"$root/mon", ckpt)
      try {
        // ONE batch: ids 10/11 are mutual near-dups (identical token
        // bag, reordered — hamming 0) both NOVEL vs the corpus; id 12
        // is a disjoint-vocabulary singleton. The corpus probe passes
        // all three; the intra-batch check must keep only min(10,11).
        mem.addData(
          Doc(10L, "quark lepton boson hadron meson photon gluon tachyon axion neutrino"),
          Doc(11L, "neutrino axion tachyon gluon photon meson hadron boson lepton quark"),
          Doc(12L, "red orange yellow green blue indigo violet white black grey"))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().sorted
      assert(accepted === Array(10L, 12L))
      assertStageReports(s"$root/mon", 1, Seq("arrive", "near", "near_intra"))
      // The index grew with the SURVIVORS only, and rejects a later copy
      // of the kept clone (proves 10 was appended, not lost with 11).
      val replay = Streams.nearDupGateBatch(spark, idx,
        Seq(Doc(20L, "quark lepton boson hadron meson photon gluon tachyon axion neutrino"),
          Doc(21L, "totally fresh words appear nowhere else in any corpus document here")).toDF(),
        "doc_id", "text", maxHamming = 7)
        .select("doc_id").as[Long].collect().sorted
      assert(replay === Array(21L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming PERCEPTUAL image gate rejects re-uploads, intra-batch " +
    "group members, and cross-batch near-dups of accepted images") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // Deterministic PNG payloads from the grouped fixture: group 0
    // (ids 0-3) is the pre-indexed corpus; groups 10 (ids 40-42),
    // 11 (44), 12 (48) are novel.
    val mk = graft.llm.Multimodal.syntheticImageGroups(
      Seq(0L, 1L, 2L, 3L, 40L, 41L, 42L, 44L, 48L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.media_id -> r).toMap
    val root = java.nio.file.Files.createTempDirectory("igate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Dedup.writeHammingWideIndex(
        graft.llm.Multimodal.extractImageHashesWide(
          Seq(mk(0L), mk(1L), mk(2L), mk(3L)).toDS()).toDF(),
        "media_id", "dhash", "vhash", nLoBits = 56, nHiBits = 54,
        maxHamming = 7, nBuckets = 8, path = idx)
      val mem = MemoryStream[graft.llm.Multimodal.MediaRecord]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.perceptualGate(idx, maxHamming = 7)), out, s"$root/mon",
        ckpt, prepare = Streams.imageDecode)
      try {
        // Batch 0: a RE-UPLOAD of corpus image 1 under a fresh id
        // (byte-identical payload — hamming 0, reject); two members of
        // novel group 10 in ONE batch (intra-batch near-dups: lowest id
        // 40 wins, 41 rejected); a novel singleton (44, accept).
        mem.addData(mk(1L).copy(media_id = 10L), mk(40L), mk(41L), mk(44L))
        q.processAllAvailable()
        // Batch 1: the third member of group 10 near-matches ACCEPTED
        // image 40 via the grown index (cross-batch append — reject);
        // another novel singleton (48, accept).
        mem.addData(mk(42L), mk(48L))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("media_id").as[Long].collect().sorted
      assert(accepted === Array(40L, 44L, 48L))
      assertStageReports(s"$root/mon", 2,
        Seq("decode", "perceptual", "perceptual_intra"))
      // Gate body agrees with a direct probe of the final grown index:
      // a near-copy of accepted 48 (same group) is rejected, a fresh
      // group accepted.
      val probeBatch = graft.llm.Multimodal.syntheticImageGroups(
        Seq(49L, 80L).toDF("doc_id"), "doc_id").toDF()
      val replay = Streams.imageGateBatch(spark, idx, probeBatch,
        maxHamming = 7)
        .select("media_id").as[Long].collect().sorted
      assert(replay === Array(80L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming PERCEPTUAL audio gate rejects re-uploads, intra-batch " +
    "group members, and cross-batch near-dups at the DESIGNED distances") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // Designed WAV payloads: group 0 (ids 0-3) is the pre-indexed
    // corpus; groups 10 (40-42), 11 (44), 12 (48) are novel. Member
    // fingerprints sit at EXACT hamming |min(m,3) - min(m',3)| by
    // construction, so every gate decision below is designed, not
    // stochastic.
    val mk = graft.llm.Multimodal.syntheticAudioGroups(
      Seq(0L, 1L, 2L, 3L, 40L, 41L, 42L, 44L, 48L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.media_id -> r).toMap
    val root = java.nio.file.Files.createTempDirectory("agate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Dedup.writeHammingWideIndex(
        graft.llm.Multimodal.extractAudioHashesWide(
          Seq(mk(0L), mk(1L), mk(2L), mk(3L)).toDS()).toDF(),
        "media_id", "ehash", "rhash", nLoBits = 56, nHiBits = 54,
        maxHamming = 7, nBuckets = 8, path = idx)
      val mem = MemoryStream[graft.llm.Multimodal.MediaRecord]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.perceptualGate(idx, maxHamming = 7)), out, s"$root/mon",
        ckpt, prepare = Streams.audioDecode)
      try {
        // Batch 0: a re-upload of corpus clip 1 under a fresh id
        // (hamming 0 — reject); members 40/41 of novel group 10 in ONE
        // batch (designed hamming 1 — intra check keeps 40); novel
        // singleton 44 (accept).
        mem.addData(mk(1L).copy(media_id = 10L), mk(40L), mk(41L), mk(44L))
        q.processAllAvailable()
        // Batch 1: group-10 member 42 is designed hamming 2 from
        // ACCEPTED clip 40 via the grown index (reject); novel
        // singleton 48 (accept).
        mem.addData(mk(42L), mk(48L))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("media_id").as[Long].collect().sorted
      assert(accepted === Array(40L, 44L, 48L))
      assertStageReports(s"$root/mon", 2,
        Seq("decode", "perceptual", "perceptual_intra"))
      // Gate body agrees with a direct probe of the final grown index:
      // a same-group near-copy of accepted 48 rejected, a fresh group
      // accepted.
      val probeBatch = graft.llm.Multimodal.syntheticAudioGroups(
        Seq(49L, 80L).toDF("doc_id"), "doc_id").toDF()
      val replay = Streams.audioGateBatch(spark, idx, probeBatch,
        maxHamming = 7)
        .select("media_id").as[Long].collect().sorted
      assert(replay === Array(80L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming PERCEPTUAL video gate rejects re-uploads and " +
    "SCRAMBLED-FIRST-FRAME duplicates of accepted videos (strided set)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // 4-frame AVIs from the strided fixture: group members scramble
    // frame 0 PER MEMBER (a re-encode that replaced the opening frame)
    // and share frames 1.. within the blue-channel nudge — so a
    // same-group member under a fresh arrival IS the first-frame
    // evasion scenario, and only the frame-SET index catches it.
    // Group 0 (ids 0-3) is the pre-indexed corpus; groups 10 (40-42),
    // 11 (44), 12 (48-49) and 20 (80) are novel.
    val mk = graft.llm.Multimodal.syntheticVideoGroupsStrided(
      Seq(0L, 1L, 2L, 3L, 40L, 41L, 42L, 44L, 48L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.media_id -> r).toMap
    val root = java.nio.file.Files.createTempDirectory("vgate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Dedup.writeHammingWideIndex(
        graft.llm.Multimodal.extractVideoFrameHashesStridedWide(
          Seq(mk(0L), mk(1L), mk(2L), mk(3L)).toDS(), k = 3).toDF(),
        "media_id", "dhash", "vhash", nLoBits = 56, nHiBits = 54,
        maxHamming = 7, nBuckets = 8, path = idx)
      val mem = MemoryStream[graft.llm.Multimodal.MediaRecord]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.perceptualGate(idx, maxHamming = 7)), out, s"$root/mon",
        ckpt, prepare = Streams.videoDecode)
      try {
        // Batch 0: a RE-UPLOAD of corpus video 1 under a fresh id
        // (byte-identical — every strided frame at hamming 0, reject);
        // members 40/41 of novel group 10 in ONE batch — their frame
        // 0s are scrambled apart, but frames 1-2 near-match, so the
        // intra-batch frame-set check keeps lowest id 40; novel
        // singleton 44 (accept).
        mem.addData(mk(1L).copy(media_id = 10L), mk(40L), mk(41L), mk(44L))
        q.processAllAvailable()
        // Batch 1: member 42 is a SCRAMBLED-FIRST-FRAME duplicate of
        // ACCEPTED video 40 — frame 0 shares nothing, frames 1-2 do;
        // the grown index (batch 0 appended 40's full frame set) must
        // reject it. Novel singleton 48 accepted.
        mem.addData(mk(42L), mk(48L))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("media_id").as[Long].collect().sorted
      assert(accepted === Array(40L, 44L, 48L))
      assertStageReports(s"$root/mon", 2,
        Seq("decode", "perceptual", "perceptual_intra"))
      // Gate body agrees with a direct probe of the final grown index:
      // 49 is a same-group (frame-0-scrambled) near-copy of accepted
      // 48 — rejected; fresh group 20 (id 80) accepted.
      val probeBatch = graft.llm.Multimodal.syntheticVideoGroupsStrided(
        Seq(49L, 80L).toDF("doc_id"), "doc_id").toDF()
      val replay = Streams.videoGateBatch(spark, idx, probeBatch,
        maxHamming = 7)
        .select("media_id").as[Long].collect().sorted
      assert(replay === Array(80L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming CROSS-MODAL pair gate rejects contaminated re-uploads " +
    "(same image, different caption), keeps consistent re-uploads and " +
    "novel pairs, gates intra-batch, and grows both indexes cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import graft.llm.{Dedup, Multimodal}
    // Corpus pairs: image-group SINGLETONS (ids 0, 4, 8 — one member
    // per group at groupSize 4) under mutually-distant captions, so
    // every decision below is about the ARRIVING pair, not
    // corpus-internal image mates.
    val mk = Multimodal.syntheticImageGroups(
      Seq(0L, 4L, 8L, 40L, 41L, 44L, 45L, 60L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.media_id -> r).toMap
    val cap = Map(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      4L -> "quark lepton boson hadron meson photon gluon tachyon axion",
      8L -> "robin sparrow falcon heron crane swan goose duck owl lark")
    val capNovel = "maple birch cedar willow aspen poplar alder rowan elm"
    val capOther = "anchor rudder keel mast bowsprit tiller winch cleat"
    val root = java.nio.file.Files.createTempDirectory("pgate").toString
    val (idx, cidx, out, ckpt) =
      (s"$root/img", s"$root/cap", s"$root/out", s"$root/ckpt")
    def pr(arrId: Long, pixelId: Long, caption: String): PairRec = {
      val m = mk(pixelId)
      PairRec(arrId, m.modality, m.payload, caption)
    }
    try {
      Dedup.writeHammingWideIndex(
        Multimodal.extractImageHashesWide(
          Seq(mk(0L), mk(4L), mk(8L)).toDS()).toDF(),
        "media_id", "dhash", "vhash", nLoBits = 56, nHiBits = 54,
        maxHamming = 7, nBuckets = 8, path = idx)
      Dedup.writeSimhashWideIndex(
        cap.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        maxHamming = 7, nBuckets = 8, path = cidx)
      val mem = MemoryStream[PairRec]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.pairGate(idx, cidx, "caption", maxHamming = 7,
          capMaxHamming = 7)), out, s"$root/mon", ckpt,
        prepare = Streams.imageDecode)
      try {
        // Batch 0: CONTAMINATED re-upload of pair 0 (byte-identical
        // image, foreign caption — reject); CONSISTENT re-upload of
        // pair 4 (own caption at simhash 0 on the matched pair —
        // accept: that is ordinary duplication, not a pair defect);
        // novel pair (group-10 image, novel caption — accept); an
        // intra-batch contaminated pair: near-identical group-11
        // images under DISAGREEING captions — keep lowest id 103.
        mem.addData(
          pr(100L, 0L, capOther),
          pr(101L, 4L, cap(4L)),
          pr(102L, 40L, capNovel),
          pr(103L, 44L, cap(0L)),
          pr(104L, 45L, capOther))
        q.processAllAvailable()
        // Batch 1: a near-copy (group mate 41) of ACCEPTED image 102
        // under a DIFFERENT caption — rejected through the grown
        // indexes; the same near-copy under 102's OWN caption —
        // accepted (consistent); a contaminated re-upload of corpus
        // pair 8 — rejected.
        mem.addData(
          pr(110L, 41L, capOther),
          pr(111L, 41L, capNovel),
          pr(112L, 8L, cap(0L)))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("media_id").as[Long].collect().sorted
      assert(accepted === Array(101L, 102L, 103L, 111L))
      assertStageReports(s"$root/mon", 2, Seq("decode", "pair", "pair_intra"))
      // Raw batch parity against the final grown indexes: image of
      // accepted pair 102 under yet another caption is rejected; a
      // fresh image group is accepted regardless of caption.
      val probe = Seq(pr(200L, 40L, capOther), pr(201L, 60L, capOther))
        .toDF()
      val replay = Streams.pairGateBatch(spark, idx, cidx, probe,
        "caption", maxHamming = 7, capMaxHamming = 7)
        .select("media_id").as[Long].collect().sorted
      assert(replay === Array(201L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("pair gate BOILERPLATE direction: rejects template captions over " +
    "unrelated images (corpus, cross-batch, and intra-batch), keeps " +
    "consistent re-uploads, and contamination stays armed") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import graft.llm.{Dedup, Multimodal}
    val mk = Multimodal.syntheticImageGroups(
      Seq(0L, 4L, 8L, 40L, 44L, 45L, 60L, 80L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.media_id -> r).toMap
    val cap = Map(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      4L -> "quark lepton boson hadron meson photon gluon tachyon axion",
      8L -> "robin sparrow falcon heron crane swan goose duck owl lark")
    val capNovel = "maple birch cedar willow aspen poplar alder rowan elm"
    val capNovel2 = "glacier fjord tundra moraine esker drumlin cirque col"
    val capOther = "anchor rudder keel mast bowsprit tiller winch cleat"
    val root = java.nio.file.Files.createTempDirectory("bgate").toString
    val (idx, cidx, out, ckpt) =
      (s"$root/img", s"$root/cap", s"$root/out", s"$root/ckpt")
    def pr(arrId: Long, pixelId: Long, caption: String): PairRec = {
      val m = mk(pixelId)
      PairRec(arrId, m.modality, m.payload, caption)
    }
    try {
      Dedup.writeHammingWideIndex(
        Multimodal.extractImageHashesWide(
          Seq(mk(0L), mk(4L), mk(8L)).toDS()).toDF(),
        "media_id", "dhash", "vhash", nLoBits = 56, nHiBits = 54,
        maxHamming = 7, nBuckets = 8, path = idx)
      Dedup.writeSimhashWideIndex(
        cap.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        maxHamming = 7, nBuckets = 8, path = cidx)
      val mem = MemoryStream[PairRec]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.pairGate(idx, cidx, "caption", maxHamming = 7,
          capMaxHamming = 7, rejectBoilerplate = true)), out, s"$root/mon",
        ckpt, prepare = Streams.imageDecode)
      try {
        // Batch 0: BOILERPLATE pair (novel group-10 image under corpus
        // pair 0's caption — reject); CONSISTENT re-upload of pair 4
        // (accept); novel pair 102 (accept); CONTAMINATED re-upload of
        // pair 0 (reject — the original direction stays armed); 104
        // shares 102's caption over an UNRELATED image — the
        // intra-batch boilerplate pair, keep lowest id 102.
        mem.addData(
          pr(100L, 40L, cap(0L)),
          pr(101L, 4L, cap(4L)),
          pr(102L, 44L, capNovel),
          pr(103L, 0L, capOther),
          pr(104L, 60L, capNovel))
        q.processAllAvailable()
        // Batch 1: 110 reuses ACCEPTED pair 102's caption over an
        // unrelated image — boilerplate through the GROWN caption
        // index (104's caption was never appended: it was rejected);
        // 111 is a group-mate of 102's image under a foreign caption —
        // contamination through the grown image index; 112 novel both
        // ways — accepted.
        mem.addData(
          pr(110L, 60L, capNovel),
          pr(111L, 45L, capOther),
          pr(112L, 80L, capNovel2))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("media_id").as[Long].collect().sorted
      assert(accepted === Array(101L, 102L, 112L))
      assertStageReports(s"$root/mon", 2, Seq("decode", "pair", "pair_intra"))
      // Raw batch parity on the final grown indexes: corpus pair 8's
      // caption over a never-accepted image is boilerplate (reject);
      // the consistent re-upload of pair 8 passes both directions.
      val probe = Seq(pr(200L, 40L, cap(8L)), pr(201L, 8L, cap(8L))).toDF()
      val replay = Streams.pairGateBatch(spark, idx, cidx, probe,
        "caption", maxHamming = 7, capMaxHamming = 7,
        rejectBoilerplate = true)
        .select("media_id").as[Long].collect().sorted
      assert(replay === Array(201L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("pair gate batch-domain exclusion: a crash-replayed half-append " +
    "(captions landed, images didn't) cannot flip the replay's own " +
    "boilerplate decisions") {
    implicit val s = spark
    import graft.llm.{Dedup, Multimodal}
    val mk = Multimodal.syntheticImageGroups(
      Seq(0L, 40L, 44L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.media_id -> r).toMap
    val capNovel = "maple birch cedar willow aspen poplar alder rowan elm"
    val root = java.nio.file.Files.createTempDirectory("bexcl").toString
    val (idx, cidx) = (s"$root/img", s"$root/cap")
    def pr(arrId: Long, pixelId: Long, caption: String): PairRec = {
      val m = mk(pixelId)
      PairRec(arrId, m.modality, m.payload, caption)
    }
    try {
      Dedup.writeHammingWideIndex(
        Multimodal.extractImageHashesWide(Seq(mk(0L)).toDS()).toDF(),
        "media_id", "dhash", "vhash", nLoBits = 56, nHiBits = 54,
        maxHamming = 7, nBuckets = 8, path = idx)
      Dedup.writeSimhashWideIndex(
        Seq((0L, "alpha beta gamma delta epsilon zeta eta theta iota"))
          .toDF("doc_id", "text"),
        "doc_id", "text", maxHamming = 7, nBuckets = 8, path = cidx)
      // Two arrivals SHARING a novel caption over unrelated images:
      // both pass the corpus decision (no corpus caption mate).
      val batch = Seq(pr(300L, 40L, capNovel), pr(301L, 44L, capNovel))
        .toDF()
      def decide() = Streams.pairGateBatch(spark, idx, cidx, batch,
        "caption", maxHamming = 7, capMaxHamming = 7,
        rejectBoilerplate = true)
        .select("media_id").as[Long].collect().sorted
      assert(decide() === Array(300L, 301L))
      // Simulate the crash window: the batch's CAPTION rows landed in
      // the index, the image rows did not. On replay each row's
      // caption now matches its BATCH SIBLING with no image hit —
      // boilerplate-shaped, but purely a replay artifact. The
      // batch-domain exclusion must keep the original decisions.
      Dedup.appendToSimhashWideIndex(
        Seq((300L, capNovel), (301L, capNovel)).toDF("media_id", "caption"),
        "media_id", "caption", maxHamming = 7,
        path = cidx)
      assert(decide() === Array(300L, 301L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("streaming SEMANTIC gate rejects scaled copies, cross-batch " +
    "paraphrases of accepted rows, and intra-batch clones via the LSH index") {
    implicit val sqlCtx = spark.sqlContext
    // 64-dim basis vectors: scaled copies share every hyperplane bucket
    // with their original (cosine exactly 1); distinct basis vectors are
    // orthogonal (cosine 0 < threshold) so they pass wherever they hash.
    def e(i: Int, scale: Float = 1.0f): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = scale; a
    }
    val corpus = Seq(Vec(1L, e(0)), Vec(2L, e(1))).toDF()
    val root = java.nio.file.Files.createTempDirectory("sgate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    try {
      graft.llm.Similarity.writeLshIndex(corpus, "vec_id", "embedding",
        numPlanes = 4, numTables = 4, path = idx)
      val mem = MemoryStream[Vec]
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.semanticGate(spark, idx, "vec_id", "embedding",
          threshold = 0.95, numPlanes = 4, numTables = 4)), out,
        s"$root/mon", ckpt)
      try {
        // Batch 0: a scaled copy of corpus vector 1 (reject) and a novel
        // direction (accept).
        mem.addData(Vec(10L, e(0, 3.0f)), Vec(11L, e(2)))
        q.processAllAvailable()
        // Batch 1: a scaled copy of batch 0's ACCEPTED vector (cross-
        // batch append must reject it), an intra-batch clone pair on a
        // new direction (keep the lower id only), and a novel direction.
        mem.addData(Vec(12L, e(2, 2.0f)),
          Vec(13L, e(3)), Vec(14L, e(3, 5.0f)),
          Vec(15L, e(4)))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(out)
        .select("vec_id").as[Long].collect().sorted
      assert(accepted === Array(11L, 13L, 15L))
      assertStageReports(s"$root/mon", 2,
        Seq("arrive", "semantic", "semantic_intra"))
      // Gate body agrees with a direct probe of the final (grown) index:
      // the intra-batch survivor 13 was appended (20 rejected), 14 wasn't.
      // probeTables mirrors the sink's wired MULTI-PROBE default, so
      // this is decision parity with the gate, not just a weaker check.
      val replay = Streams.semanticGateBatch(spark, idx,
        Seq(Vec(20L, e(3, 7.0f)), Vec(21L, e(5))).toDF(),
        "vec_id", "embedding", threshold = 0.95, numPlanes = 4,
        numTables = 4,
        probeTables = graft.llm.Similarity.MultiProbeTables)
        .select("vec_id").as[Long].collect().sorted
      assert(replay === Array(21L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("dedupWithinWatermark drops replayed ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IdEv]
    val q = Streams.dedupWithinWatermark(mem.toDF(), Seq("event_id"),
      "1 hour")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(IdEv(1, ts(0), "click", 1), IdEv(2, ts(1), "view", 1),
        IdEv(1, ts(0), "click", 1)) // duplicate inside one batch
      q.processAllAvailable()
      // at-least-once upstream replays id 1 and 2 in a later micro-batch
      mem.addData(IdEv(2, ts(1), "view", 1), IdEv(3, ts(5), "click", 2))
      q.processAllAvailable()
      val out = spark.table("dedup_test")
      assert(out.count() === 3) // ids 1, 2, 3 exactly once
      assert(out.groupBy("event_id").count().filter($"count" > 1).count() === 0)
      // batch mode: same transform, plain dropDuplicates
      val batchIn = Seq(IdEv(1, ts(0), "click", 1), IdEv(1, ts(0), "click", 1),
        IdEv(2, ts(1), "view", 1)).toDF()
      assert(Streams.dedupWithinWatermark(batchIn, Seq("event_id"), "1 hour")
        .count() === 2)
    } finally q.stop()
  }

  test("stream-stream intervalJoin attributes within horizon, both states bounded") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[IdEv]
    val purchases = MemoryStream[IdEv]
    val joined = Streams.intervalJoin(views.toDF(), purchases.toDF(),
      key = "user_id", horizon = "30 minutes", watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ij_test")
      .outputMode("append").start()
    try {
      views.addData(IdEv(10, ts(0), "view", 1), IdEv(11, ts(5), "view", 2))
      purchases.addData(
        IdEv(20, ts(10), "purchase", 1),  // 10 min after view 10 -> match
        IdEv(21, ts(50), "purchase", 2),  // 45 min after view 11 -> no match
        IdEv(22, ts(4), "purchase", 1))   // after view 10 (4 min) -> match
      q.processAllAvailable()
      val got = spark.table("ij_test").select("l_id", "r_id")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((10L, 20L), (10L, 22L)))
      // batch parity: identical pairs from the same transform on static DFs
      val batch = Streams.intervalJoin(
        Seq(IdEv(10, ts(0), "view", 1), IdEv(11, ts(5), "view", 2)).toDF(),
        Seq(IdEv(20, ts(10), "purchase", 1), IdEv(21, ts(50), "purchase", 2),
          IdEv(22, ts(4), "purchase", 1)).toDF(),
        "user_id", "30 minutes", "1 hour")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("sessionizeWithTimeout evicts sessions when the watermark passes last+gap") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[Streams.SessionIn]
    // 30-min gap, 10-min allowed lateness.
    val q = Streams.sessionizeWithTimeout(mem.toDS(), 30L * 60 * 1000, "10 minutes")
      .writeStream.format("memory").queryName("sess_timeout_test")
      .outputMode("append").start()
    try {
      mem.addData(Streams.SessionIn(1, t(10, 0), 1.0),
        Streams.SessionIn(1, t(10, 5), 2.0))
      q.processAllAvailable()
      // nothing emitted yet: session open, watermark at 9:55
      assert(spark.table("sess_timeout_test").count() === 0)
      // another user's event pushes the watermark to 11:50 > 10:05 + 30min
      mem.addData(Streams.SessionIn(2, t(12, 0), 5.0))
      q.processAllAvailable()
      val evicted = spark.table("sess_timeout_test").collect()
      assert(evicted.length === 1)
      assert(evicted.head.getLong(0) === 1L)
      assert(evicted.head.getTimestamp(1) === t(10, 0))
      assert(evicted.head.getTimestamp(2) === t(10, 35)) // last + gap
      assert(evicted.head.getLong(3) === 2L)
      assert(evicted.head.getDouble(4) === 3.0)
      // a late event for user 1 lands AFTER eviction: new session, not a
      // resurrection of the closed one
      mem.addData(Streams.SessionIn(1, t(11, 55), 7.0))
      q.processAllAvailable()
      mem.addData(Streams.SessionIn(3, t(14, 0), 0.0)) // push watermark far
      q.processAllAvailable()
      val all = spark.table("sess_timeout_test")
        .orderBy("user_id", "session_start").collect()
      // user 1 twice (original + post-eviction), user 2 once; user 3 open
      assert(all.map(r => (r.getLong(0), r.getLong(3))).toSeq
        === Seq((1L, 2L), (1L, 1L), (2L, 1L)))
      // batch parity for CLOSED sessions: session_window agg on the same
      // rows (sentinel user 3 excluded) produces identical sessions
      val batch = Streams.sessionAgg(
        Seq(Ev(t(10, 0), "x", 1, 1.0), Ev(t(10, 5), "x", 1, 2.0),
          Ev(t(12, 0), "x", 2, 5.0), Ev(t(11, 55), "x", 1, 7.0)).toDF(),
        "30 minutes", "0 seconds")
        .select("user_id", "session_start", "session_end", "n_events",
          "session_value")
        .orderBy("user_id", "session_start").collect()
      assert(all.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    } finally q.stop()
  }

  test("HLL sketch aggregates incrementally in a streaming window") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.SketchFunctions
    import graft.llm.TextOps
    def distinctUsers(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(SketchFunctions.hllEstimate(
        TextOps.hash60($"user_id".cast("string")), 8).as("est"))
      .select($"w.start".as("ws"), $"est")
    val mem = MemoryStream[Ev]
    val q = distinctUsers(mem.toDF())
      .writeStream.format("memory").queryName("hll_stream_test")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*) // sketch state must MERGE, not reset
      q.processAllAvailable()
      val streamed = spark.table("hll_stream_test").orderBy("ws").collect()
      val batch = distinctUsers(rows.toDF()).orderBy("ws").collect()
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally q.stop()
  }

  test("slidingCounts emits overlapping windows") {
    val out = Streams.slidingCounts(rows.toDF(), "30 minutes", "15 minutes",
      "0 seconds")
    // event at 10:16 belongs to [10:00,10:30) and [10:15,10:45)
    val covering = out.filter($"event_type" === "click" &&
      $"window_start" <= ts(16) && $"window_end" > ts(16))
    assert(covering.count() === 2)
  }

  test("gate sink compactEvery bounds the index file count: appends " +
    "accumulate delta files, the cadence rewrites to one per directory, " +
    "decisions unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(Doc(1L, "alpha beta gamma")).toDF()
    val root = java.nio.file.Files.createTempDirectory("cgate").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    def dataFiles(): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith(".")).toList
      } finally s.close()
    }
    try {
      graft.llm.Dedup.writeExactDupIndex(corpus, "doc_id", "text", 2, idx)
      val mem = MemoryStream[Doc]
      // Compact every 2 micro-batches.
      val q = Streams.startGateSink(mem.toDF(),
        Seq(Streams.exactGate(idx, "doc_id", "text")), out, s"$root/mon", ckpt,
        compactEvery = 2)
      try {
        for (b <- 0 until 4) {
          mem.addData(Doc(10L + b, s"novel doc number $b"),
            Doc(20L + b, s"other text variant $b"))
          q.processAllAvailable()
        }
      } finally q.stop()
      // Batch 3 (the 4th) triggered the last compaction with nothing
      // appended after it: exactly one data file per partition
      // directory — the bound a long-running stream keeps forever.
      val files = dataFiles()
      val dirs = files.map(_.getParent).distinct
      assert(files.size === dirs.size,
        s"expected one file per directory, got ${files.size} files in " +
          s"${dirs.size} dirs")
      // All 8 novel rows were accepted and still reject their copies.
      assert(spark.read.parquet(out).count() === 8L)
      assertStageReports(s"$root/mon", 4, Seq("arrive", "exact", "exact_intra"))
      assert(Streams.dedupGateBatch(spark, idx,
        Seq(Doc(90L, "novel doc number 2"), Doc(91L, "brand new")).toDF(),
        "doc_id", "text")
        .select("doc_id").as[Long].collect().toSeq === Seq(91L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  /** A 64-dim one-hot embedding, scaled. */
  private def e(i: Int, scale: Float = 1.0f): Array[Float] = {
    val a = Array.fill(64)(0.0f); a(i) = scale; a
  }

  /** The composed pipeline's corpus indexes and frozen artifacts, built
    * under `root`.
    *
    * Four disjoint-vocabulary corpus docs x10 copies each: every bigram
    * has identical KN statistics (c12 = c1 = 10, single continuation),
    * so the stored threshold equals the uniform per-bigram surprisal
    * and EVERY all-seen-bigram document passes the KN gate — the gate
    * rejects exactly the unseen-bigram rows, keeping these specs about
    * the COMPOSITION, not the LM boundary (QualityGate spec owns that).
    * C deliberately contains the '<EMAIL>' placeholder so an arriving
    * PII row is acceptable ONLY through redaction. y: B-words negative.
    */
  private def ingestFixture(root: String): Streams.IngestPipelineConfig = {
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val B = "quark lepton boson hadron meson photon gluon tachyon axion " +
      "neutrino positron muon pion kaon baryon fermion scalar spinor " +
      "vector tensor"
    val C = "contact <EMAIL> for access codes one two three four five " +
      "six seven"
    val D = "robin sparrow falcon heron crane swan goose duck owl lark " +
      "wren kite hawk eagle tern dove finch jay crow ibis"
    val texts = Seq(A, B, C, D)
    val corpus = (0 until 40).map(i => DocVec(i.toLong, texts(i % 4),
      e(i % 40))).toDF()
    val cfg = Streams.IngestPipelineConfig(
      exactIndexPath = s"$root/exact", nearDupIndexPath = s"$root/near",
      semIndexPath = s"$root/sem", lmPath = s"$root/lm",
      clfModelPath = s"$root/clf", driftRefPath = s"$root/drift",
      nBucketsExact = 8, maxHamming = 7, semThreshold = 0.95,
      numPlanes = 4, numTables = 4)
    graft.llm.Dedup.writeExactDupIndex(corpus, "doc_id", "text", 8,
      cfg.exactIndexPath)
    graft.llm.Dedup.writeSimhashWideIndex(corpus, "doc_id", "text",
      maxHamming = 7, nBuckets = 8, path = cfg.nearDupIndexPath)
    graft.llm.Similarity.writeLshIndex(corpus, "doc_id", "embedding",
      numPlanes = 4, numTables = 4, path = cfg.semIndexPath)
    graft.llm.TextAnalysis.writeKnLm(corpus, "doc_id", "text", cfg.lmPath)
    graft.llm.Curation.writeQualityClassifier(
      corpus.withColumn("y", (col("doc_id") % 4 =!= 1).cast("int")),
      "doc_id", "text", "y", cfg.clfModelPath)
    graft.ops.Checks.writeDriftReference(
      corpus.select(length(col("text")).cast("double").as("len")),
      "len", nBins = 10, path = cfg.driftRefPath)
    cfg
  }

  /** `cfg` with fresh copies of its three growing indexes under `root`;
    * the frozen artifacts stay shared.
    */
  private def freshIndexes(cfg: Streams.IngestPipelineConfig,
                           root: String): Streams.IngestPipelineConfig = {
    def copy(from: String, name: String): String = {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from),
        new java.io.File(s"$root/$name"))
      s"$root/$name"
    }
    cfg.copy(exactIndexPath = copy(cfg.exactIndexPath, "exact"),
      nearDupIndexPath = copy(cfg.nearDupIndexPath, "near"),
      semIndexPath = copy(cfg.semIndexPath, "sem"))
  }

  private val ingestStages = Seq("redact", "exact", "exact_intra", "near",
    "near_intra", "semantic", "semantic_intra", "kn", "clf")

  /** Two micro-batches with one row per decision outcome, then a restart
    * on the same checkpoint, through the flagship sink over `cfg`'s
    * indexes (which grow); asserts what lands, the monitor and stage
    * reports, and that each grown index rejects a copy of an accepted row.
    */
  private def composedSinkRun(cfg: Streams.IngestPipelineConfig,
                              root: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val (out, mon, ckpt) = (s"$root/out", s"$root/mon", s"$root/ckpt")
    val mem = MemoryStream[DocVec]
    def start() = Streams.startIngestPipelineSink(mem.toDF(), cfg, out,
      mon, ckpt, "doc_id", "text", "embedding")
    val q = start()
    try {
      mem.addData(ingestBatches(0): _*)
      q.processAllAvailable()
      mem.addData(ingestBatches(1): _*)
      q.processAllAvailable()
    } finally q.stop()
    // Restart on the SAME checkpoint: offsets resume, the indexes keep
    // the pre-restart growth, and a copy of a pre-restart accept is
    // rejected while novel rows still land.
    val q2 = start()
    try {
      mem.addData(ingestBatches(2): _*)
      q2.processAllAvailable()
    } finally q2.stop()

    val landed = spark.read.parquet(out)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(landed.keySet === Set(100L, 102L, 113L, 121L))
    // Raw PII never lands; the placeholder text does.
    assert(landed(102L) === "contact <EMAIL> for access codes")
    assert(!landed.values.exists(_.contains("dave@corp.io")))
    // The monitor reported every micro-batch (nBins rows each),
    // including after the restart.
    for (b <- 0 to 2)
      assert(spark.read.parquet(s"$mon/batch_id=$b").count() === 10L)
    // The per-stage ops report landed beside it for every batch.
    assertStageReports(mon, 3, ingestStages)
    // Batch 0: 7 arrived, 2 accepted — the report carries the
    // decision totals the landed output implies.
    val m0 = spark.read.parquet(s"${mon}_stages/batch_id=0")
    assert(m0.filter($"stage" === "redact")
      .head.getAs[Long]("rows_in") === 7L)
    assert(m0.filter($"stage" === "clf")
      .head.getAs[Long]("rows_out") === 2L)
    // Final-index replays: each family's gate now rejects a copy of an
    // accepted row through the state grown across both processes.
    assert(Streams.dedupGateBatch(spark, cfg.exactIndexPath,
      Seq(DocVec(200L, "tern dove finch jay crow", e(60))).toDF(),
      "doc_id", "text").count() === 0L)
    assert(Streams.nearDupGateBatch(spark, cfg.nearDupIndexPath,
      Seq(DocVec(201L, "crow jay finch dove tern", e(60))).toDF(),
      "doc_id", "text", 7).count() === 0L)
    assert(Streams.semanticGateBatch(spark, cfg.semIndexPath,
      Seq(DocVec(202L, "unrelated words entirely", e(56, 9.0f))).toDF(),
      "doc_id", "embedding", 0.95, 4, 4,
      probeTables = cfg.semProbeTables).count() === 0L)
  }

  /** Micro-batches over [[ingestFixture]]'s corpus, planting every
    * decision outcome; batch 3 plants copies of batch 0-2 accepts.
    */
  private lazy val ingestBatches: Seq[Seq[DocVec]] = Seq(
    Seq(
      // accept: novel A-prefix, all bigrams seen, positive class
      DocVec(100L, "alpha beta gamma delta epsilon", e(50)),
      // exact: case/space-noised verbatim corpus copy
      DocVec(101L, "  ALPHA beta   GAMMA delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon ",
        e(51)),
      // accept THROUGH redaction: lands as the C-prefix placeholder
      // text; unredacted 'dave@corp.io' would be an unseen bigram
      DocVec(102L, "contact dave@corp.io for access codes", e(52)),
      // exact_intra: same normalized text as 100, larger id
      DocVec(103L, "alpha beta gamma delta epsilon", e(53)),
      // semantic_intra: novel text but 100's direction scaled
      DocVec(105L, "robin sparrow falcon heron crane", e(50, 2.0f)),
      // clf: negative-class (B-word) prefix
      DocVec(106L, "quark lepton boson hadron meson", e(54)),
      // kn: every-other-A tokens — unseen bigrams
      DocVec(107L, "alpha gamma epsilon eta iota", e(57))),
    Seq(
      // exact via the GROWN index: verbatim copy of accepted 100
      DocVec(110L, "alpha beta gamma delta epsilon", e(55)),
      // near via the GROWN index: bag-reordered copy of 102's
      // REDACTED landed text (also proves redact-before-probe)
      DocVec(111L, "access for dave@corp.io codes contact", e(58)),
      // semantic via the GROWN index: 100's direction again
      DocVec(112L, "robin sparrow falcon heron crane swan goose",
        e(50, 4.0f)),
      // accept: contiguous D-substring, positive class
      DocVec(113L, "lark wren kite hawk eagle", e(56))),
    Seq(
      DocVec(120L, "lark wren kite hawk eagle", e(57)),
      DocVec(121L, "tern dove finch jay crow", e(58))),
    Seq(
      // exact via the grown index: copy of 121
      DocVec(130L, "TERN dove finch jay crow", e(59)),
      // near: reordered copy of 113
      DocVec(131L, "eagle hawk kite wren lark", e(61)),
      // semantic: 121's direction scaled
      DocVec(132L, "sparrow falcon heron crane swan", e(58, 3.0f)),
      // accept, then its exact_intra twin
      DocVec(133L, "swan goose duck owl lark", e(62)),
      DocVec(134L, "swan goose duck owl lark", e(63)),
      // accept through redaction
      DocVec(135L, "contact eve@corp.io for access", e(60))))

  test("composed ingest pipeline sink: all stages gate one stream, " +
    "redaction lands (not raw PII), indexes grow cross-batch, intra-batch " +
    "clones drop, state survives checkpoint restart, monitor reports") {
    val root = java.nio.file.Files.createTempDirectory("ingest_e2e").toString
    try composedSinkRun(ingestFixture(root), root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("composed ingest pipeline sink, 20 runs over fresh indexes: the " +
    "concurrent batch units never deadlock and decide the same each run") {
    val root = java.nio.file.Files.createTempDirectory("ingest_rep").toString
    try {
      val cfg = ingestFixture(s"$root/fixture")
      for (run <- 0 until 20) {
        val dir = s"$root/run$run"
        composedSinkRun(freshIndexes(cfg, dir), dir)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("flagship sink equals a sequential fold of the same gates: landed " +
    "rows, stage reports and grown index rows over 4 batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ingest_seq").toString
    try {
      val fixture = ingestFixture(s"$root/fixture")
      // The flagship, compacting every 2nd batch, on its own indexes.
      val sink = freshIndexes(fixture, s"$root/sink")
      val (out, mon) = (s"$root/sink/out", s"$root/sink/mon")
      val mem = MemoryStream[DocVec]
      val q = Streams.startIngestPipelineSink(mem.toDF(), sink, out, mon,
        s"$root/sink/ckpt", "doc_id", "text", "embedding", compactEvery = 2)
      try ingestBatches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()

      // The reference: every stage in order on the survivors of the one
      // before, then each gate's append in turn.
      val ref = freshIndexes(fixture, s"$root/ref")
      val gates = Seq(Streams.exactGate(ref.exactIndexPath, "doc_id", "text"),
        Streams.nearDupGate(ref.nearDupIndexPath, "doc_id", "text",
          ref.maxHamming),
        Streams.semanticGate(spark, ref.semIndexPath, "doc_id", "embedding",
          ref.semThreshold, ref.numPlanes, ref.numTables, ref.semProbeTables),
        Streams.qualityGate(spark, ref.lmPath, "doc_id", "text"),
        Streams.classifierGate(spark, ref.clfModelPath, "doc_id", "text"))
      for ((rows, b) <- ingestBatches.zipWithIndex) {
        val batch = rows.toDF()
        val prepared = graft.ops.Materialize.pin(
          graft.llm.TextAnalysis.redactPii(batch, "doc_id", "text")
            .select(col("doc_id"), col("redacted").as("text"))
            .join(batch.select("doc_id", "embedding"), Seq("doc_id")))
        val n = prepared.count()
        var cur = prepared
        val report = ("redact", n, n) +: gates.flatMap(_.stages).map {
          case (name, stage) =>
            val in = cur.count()
            cur = graft.ops.Materialize.pin(stage(cur))
            (name, in, cur.count())
        }
        gates.foreach(_.append(cur))
        val sinkReport = spark.read.parquet(s"${mon}_stages/batch_id=$b")
          .select("stage_idx", "stage", "rows_in", "rows_out")
          .as[(Int, String, Long, Long)].collect().sortBy(_._1)
          .map(r => (r._2, r._3, r._4)).toSeq
        assert(sinkReport === report, s"batch $b")
        assert(spark.read.parquet(s"$out/batch_id=$b")
          .select("doc_id", "text").as[(Long, String)].collect().toSet ===
          cur.select("doc_id", "text").as[(Long, String)].collect().toSet,
          s"batch $b")
      }
      // Every batch accepted something, and the landed rows are the ones
      // the planted outcomes name.
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect()
        .toSet === Set(100L, 102L, 113L, 121L, 133L, 135L))
      for ((a, b) <- Seq(sink.exactIndexPath -> ref.exactIndexPath,
          sink.nearDupIndexPath -> ref.nearDupIndexPath,
          sink.semIndexPath -> ref.semIndexPath)) {
        def rowsOf(p: String) =
          spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
        assert(rowsOf(a) === rowsOf(b), a)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("gate sink failure: a throwing append fails the batch only after " +
    "every unit finished; the restarted query lands that batch exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("gate_fail").toString
    val (idx, out, ckpt) = (s"$root/idx", s"$root/out", s"$root/ckpt")
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val slowDone = new java.util.concurrent.atomic.AtomicInteger()
    val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
    // A gate whose append outlasts the failing one, and a gate whose
    // append throws when armed.
    val slow = Streams.Gate(Nil, append = acc => {
      inFlight.incrementAndGet()
      try { Thread.sleep(1500); acc.count(); slowDone.incrementAndGet() }
      finally inFlight.decrementAndGet()
    })
    val failing = Streams.Gate(Nil, append = _ =>
      if (failNext.getAndSet(false))
        throw new IllegalStateException("append failed"))
    try {
      graft.llm.Dedup.writeExactDupIndex(Seq(Doc(1L, "alpha beta gamma")).toDF(),
        "doc_id", "text", 2, idx)
      val mem = MemoryStream[Doc]
      def start() = Streams.startGateSink(mem.toDF(),
        Seq(Streams.exactGate(idx, "doc_id", "text"), slow, failing), out,
        s"$root/mon", ckpt)
      val q = start()
      try {
        mem.addData(Doc(10L, "first batch doc"), Doc(11L, "alpha beta gamma"))
        q.processAllAvailable()
        failNext.set(true)
        mem.addData(Doc(20L, "second batch doc"), Doc(21L, "first batch doc"),
          Doc(22L, "second batch doc"))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        // The batch failed only once the slow append had finished.
        assert(inFlight.get() === 0)
        assert(slowDone.get() === 2)
      } finally q.stop()
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val landed = spark.read.parquet(out).select("doc_id", "batch_id")
        .as[(Long, Int)].collect().toSeq.sorted
      assert(landed === Seq((10L, 0), (20L, 1)))
      assertStageReports(s"$root/mon", 2, Seq("arrive", "exact", "exact_intra"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
}
