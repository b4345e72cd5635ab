package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup collapses case/whitespace variants to one representative") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "  hello world "), (3L, "HELLO WORLD"),
      (4L, "something else")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))) === Array((1L, 3L), (4L, 1L)))
  }

  test("hammingNearDupPairs: banded pigeonhole recall at any bit width, " +
    "empty bands rejected") {
    // 56-bit signatures: a/b differ in exactly 2 bits (found), c is the
    // complement of a (56 bits away — never a candidate AND filtered).
    val a = 0x00FFFFFFFFFFFFFFL & 0x00AAAAAAAAAAAAAAL
    val b = a ^ 3L
    val c = a ^ 0x00FFFFFFFFFFFFFFL
    val sigs = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "sh")
    val pairs = Dedup.hammingNearDupPairs(sigs, "id", "sh",
      nBits = 56, maxHamming = 7)
      .as[(Long, Long, Int)].collect().sorted
    assert(pairs === Array((1L, 2L, 2)))
    // 9 bands over 56 bits would leave band 8 empty (width 7 x 8 = 56):
    // an always-equal key that cross-joins the corpus — rejected loud.
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(sigs, "id", "sh", nBits = 56, maxHamming = 8)
        .collect()
    }
    assert(e.getMessage.contains("empty band"))
  }

  test("cdcChunks: chunks tile the document; insertions shift one chunk only") {
    // A long deterministic pseudo-text so the divisor actually fires.
    def word(i: Int) = s"w${(i * 7919) % 97}"
    val text = (0 until 400).map(word).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(df, "doc_id", "text", k = 3, divisor = 8)
      .orderBy("chunk_idx").collect()
    // Tiling invariants: idx 0..n-1, starts contiguous, lengths sum to n.
    assert(chunks.head.getAs[Int]("start_tok") === 0)
    assert(chunks.map(_.getAs[Int]("n_toks")).sum === 400)
    assert(chunks.length > 3, "divisor never fired - test text too tame")
    // Insert 5 tokens near the head: every chunk that starts >= k tokens
    // after the insertion point keeps its hash (content-defined), just
    // shifted by 5 — fixed-size chunking would re-cut everything.
    val inserted = (text.split(" ").take(10) ++ Seq("x1", "x2", "x3", "x4", "x5") ++
      text.split(" ").drop(10)).mkString(" ")
    val chunks2 = Dedup.cdcChunks(Seq((1L, inserted)).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, divisor = 8).collect()
    val origByStart = chunks.map(r =>
      (r.getAs[Int]("start_tok"), r.getAs[Long]("chunk_h"))).toMap
    val survived = chunks2.count { r =>
      val s = r.getAs[Int]("start_tok")
      s > 15 && origByStart.get(s - 5).contains(r.getAs[Long]("chunk_h"))
    }
    val farOrig = chunks.count(_.getAs[Int]("start_tok") > 10)
    assert(survived >= farOrig - 1,
      s"only $survived of $farOrig post-insertion chunks kept their hash")
  }

  test("near-dup index: probe equals inline pairs") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
    val delta = docs.filter($"doc_id" < 50)
    val dir = java.nio.file.Files.createTempDirectory("neardup_idx").toString
    try {
      Dedup.writeNearDupIndex(docs, "doc_id", "text", 3, 8, 2, 64, dir)
      val probed = Dedup.probeNearDupIndex(spark, dir, delta,
        "doc_id", "text", 3, 8, 2, 0.5)
      // Inline ground truth: the symmetric pair set restricted to
      // queries, re-oriented to (query, cand).
      val inline = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 8, 2, 0.5)
        .collect().flatMap { r =>
          val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          Seq((a, b, j), (b, a, j)).filter(_._1 < 50)
        }.toSet
      val got = probed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === inline)
      // DPP: the probe's index scan is partition-pruned on (band, bkt).
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the near-dup index scan:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("exact-dup index: perturbed probe finds originals; grown equals rebuild") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
    // Whitespace/case perturbation, normalization-invariant.
    val delta = docs.filter($"doc_id" % 7 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      upper(concat(lit("  "), regexp_replace($"text", " ", "  "), lit(" ")))
        .as("text"))
    val dir = java.nio.file.Files.createTempDirectory("exactdup_idx").toString
    val dir2 = java.nio.file.Files.createTempDirectory("exactdup_grown").toString
    try {
      Dedup.writeExactDupIndex(docs, "doc_id", "text", 64, dir)
      val probed = Dedup.probeExactDupIndex(spark, dir, delta,
        "doc_id", "text")
      val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // Every delta doc matches at least its own original.
      val deltaIds = docs.filter($"doc_id" % 7 === 0)
        .collect().map(_.getLong(0)).toSet
      assert(deltaIds.forall(id => got.contains((id + 1000000L, id))))
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the exact-dup index scan:\n$plan")
      Dedup.writeExactDupIndex(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", 64, dir2)
      Dedup.appendToExactDupIndex(docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", dir2)
      val grown = Dedup.probeExactDupIndex(spark, dir2, delta,
        "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(grown === got)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    }
  }

  test("compactIndex: one file per directory, identical probe, sidecar and " +
    "markers preserved; non-index dirs fail loud") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
    val delta = docs.filter($"doc_id" % 7 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      upper(concat(lit(" "), regexp_replace($"text", " ", "  "))).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("compact_idx").toString
    try {
      Dedup.writeExactDupIndex(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", 16, dir)
      Dedup.appendToExactDupIndex(docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", dir)
      val marker = new java.io.File(dir, "_GRAFT_GROWN")
      marker.createNewFile()
      val before = Dedup.probeExactDupIndex(spark, dir, delta,
        "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before.nonEmpty)
      val (fb, fa, rows) = Dedup.compactIndex(spark, dir)
      assert(fa < fb, s"compaction did not reduce files: $fb -> $fa")
      assert(rows === docs.count())
      // Exactly one data file per (band, bkt) directory.
      val leafDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.isDirectory))
      assert(leafDirs.nonEmpty)
      leafDirs.foreach { d =>
        val data = d.listFiles().filter(f =>
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        assert(data.length === 1, s"${d.getPath} has ${data.length} files")
      }
      assert(marker.exists(), "root marker file lost across compaction")
      // Probe still validates the sidecar and returns the identical pairs.
      val after = Dedup.probeExactDupIndex(spark, dir, delta,
        "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === before)
      // A parquet dir that is not a graft index refuses compaction.
      val bare = java.nio.file.Files.createTempDirectory("bare_compact").toString
      try {
        docs.limit(5).write.mode("overwrite").parquet(bare)
        val e = intercept[IllegalArgumentException] {
          Dedup.compactIndex(spark, bare)
        }
        assert(e.getMessage.contains("sidecar"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bare))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("readLayout under concurrent readers leaves the discovery-" +
    "parallelism conf as it found it") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    val dir = java.nio.file.Files.createTempDirectory("read_layout").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      spark.range(0, 64).select($"id", ($"id" % 8).as("band"))
        .write.mode("overwrite").partitionBy("band").parquet(dir)
      spark.conf.unset(key)
      // 8 threads x 25 reads: an unlocked set/restore pair saves another
      // reader's override as its "prior" value and leaves it set.
      val readers = (0 until 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = (0 until 25).foreach(_ =>
          assert(BandedIndex.readLayout(spark, dir).columns.contains("band")))
      }))
      readers.foreach(_.get())
      assert(!spark.conf.getAll.contains(key), spark.conf.getAll.get(key))
    } finally {
      pool.shutdown()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compactIndex repairs a crash-replayed append: duplicate rows " +
    "dropped, row set equals the single-append layout, probe unchanged") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
    val evens = docs.filter($"doc_id" % 2 === 0)
    val odds = docs.filter($"doc_id" % 2 === 1)
    val delta = docs.filter($"doc_id" % 7 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      upper(concat(lit(" "), regexp_replace($"text", " ", "  "))).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("replay_idx").toString
    val ref = java.nio.file.Files.createTempDirectory("replay_ref").toString
    try {
      // The crash-replay scenario: the odds batch's append committed,
      // the checkpoint didn't, and the restarted stream re-appends it.
      Dedup.writeExactDupIndex(evens, "doc_id", "text", 16, dir)
      Dedup.appendToExactDupIndex(odds, "doc_id", "text", dir)
      Dedup.appendToExactDupIndex(odds, "doc_id", "text", dir)
      Dedup.writeExactDupIndex(docs, "doc_id", "text", 16, ref)
      val refRows = spark.read.parquet(ref).count()
      assert(spark.read.parquet(dir).count() > refRows,
        "replayed append should have grown the layout")
      val before = Dedup.probeExactDupIndex(spark, dir, delta,
        "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (_, _, rows) = Dedup.compactIndex(spark, dir)
      // The compacted row SET is exactly what a never-crashed build has.
      assert(rows === refRows,
        s"compaction left $rows rows, single-append layout has $refRows")
      assert(spark.read.parquet(dir).count() === refRows)
      val after = Dedup.probeExactDupIndex(spark, dir, delta,
        "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ref))
    }
  }

  test("semanticDedup decision core: transitive closure within a cell, " +
    "min-id representative, cell boundaries respected") {
    import spark.implicits._
    // Hand-assigned cells make the decision deterministic: cell 0 holds
    // a similarity CHAIN 1-2-3 (1~2 and 2~3 clear the threshold, 1~3
    // does NOT - transitivity must still group them), plus orthogonal
    // 20; cell 1 holds 30~31; 40 is near-identical to 30 but in the
    // OTHER cell, so it must survive (the SemDeDup approximation).
    def v(xs: Double*): Array[Double] = xs.toArray
    val members = Seq(
      (1L, 0, v(1, 0.30, 0, 0)), (2L, 0, v(1, 0, 0, 0)),
      (3L, 0, v(1, -0.30, 0, 0)), (20L, 0, v(0, 0, 1, 0)),
      (30L, 1, v(0, 0, 0, 1)), (31L, 1, v(0.01, 0, 0, 1)),
      (40L, 0, v(0, 0.01, 0, 1))).toDF("id", "cell", "cv")
    // cos(1,3) = (1 - 0.09)/1.09 ~ 0.835 < 0.9; cos(1,2)=cos(2,3) ~ 0.958.
    val dd = Dedup.semanticDedupWithCells(members, threshold = 0.9)
    val rows = dd.select("id", "rep_id", "keep").collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 20L, 30L, 31L, 40L))
    assert(rows(1L) === ((1L, 1)))
    assert(rows(2L) === ((1L, 0)))
    assert(rows(3L) === ((1L, 0))) // via the chain, not a direct edge
    assert(rows(20L) === ((20L, 1)))
    assert(rows(30L) === ((30L, 1)))
    assert(rows(31L) === ((30L, 0)))
    assert(rows(40L) === ((40L, 1))) // cross-cell near-dup survives
  }

  test("semanticDedup pathological-cell guard: oversized cells sub-split " +
    "deterministically; at-cap cells are bit-identical to uncapped") {
    import spark.implicits._
    // One 12-member cell of near-identical vectors (the skewed-quantizer
    // shape) plus a small 2-member cell.
    def v(eps: Double): Array[Double] = Array(1.0, eps, 0.0, 0.0)
    val members = ((0 until 12).map(i => (i.toLong, 7, v(i * 1e-4))) ++
      Seq((100L, 9, v(0.0)), (101L, 9, v(1e-4)))).toDF("id", "cell", "cv")
    val capped = Dedup.semanticDedupWithCells(members, threshold = 0.9,
      maxCellSize = 4).localCheckpoint()
    // The wide cell split into ceil(12/4)=3 sub-cells; the small one kept
    // its plain key (no '#').
    val wide = capped.filter($"cell" === 7)
    assert(wide.select($"pair_cell").distinct().count() === 3)
    assert(wide.filter(!$"pair_cell".startsWith("7#")).count() === 0)
    assert(capped.filter($"cell" === 9)
      .select($"pair_cell").distinct().collect().map(_.getString(0)).toSeq
      === Seq("9"))
    // Sub-splitting bounds the pair mass: each kept row is its sub-cell's
    // min id, and every sub-cell keeps exactly one of these near-dups
    // (3 representatives instead of 1 — the accepted boundary miss).
    assert(wide.filter($"keep" === 1).count() === 3)
    // The guard is inert for cells at/under the cap: identical decisions.
    val uncapped = Dedup.semanticDedupWithCells(members, threshold = 0.9)
    assert(uncapped.filter($"cell" === 7)
      .filter($"keep" === 1).count() === 1)
    val a = capped.filter($"cell" === 9)
      .select("id", "rep_id", "keep").collect().toSet
    val b = uncapped.filter($"cell" === 9)
      .select("id", "rep_id", "keep").collect().toSet
    assert(a === b)
  }

  test("semanticDedup end-to-end: contract holds on real embeddings " +
    "(witnessed drops, independent kept set, kept representatives)") {
    val emb = spark.read.parquet(sf("embeddings"))
    val thr = 0.4
    val dd = Dedup.semanticDedup(emb, "vec_id", "embedding",
      nCells = 8, threshold = thr).localCheckpoint()
    val n = emb.count()
    assert(dd.count() === n, "one output row per corpus vector")
    val dropped = dd.filter($"keep" === 0)
    assert(dropped.count() > 0, "fixture corpus has planted near-dups")
    // Every member's representative is itself kept.
    val repKeep = dd.join(
      dd.select($"id".as("rep_id"), $"keep".as("rk")), Seq("rep_id"))
    assert(repKeep.filter($"rk" =!= 1).count() === 0)
    // Independent pair recompute: drops have a same-cell witness; no two
    // kept members of one cell clear the threshold.
    val members = dd.select($"id", $"pair_cell")
      .join(emb.select($"vec_id".as("id"), $"embedding"), Seq("id"))
    val pairs = Dedup.embeddingNearDupPairs(members, "id", "embedding",
      "pair_cell", thr).localCheckpoint()
    val witnessed = pairs.select(explode(array($"id_a", $"id_b")).as("id"))
      .distinct()
    assert(dropped.join(witnessed, Seq("id"), "left_anti").count() === 0)
    val keptPairs = pairs
      .join(dd.filter($"keep" === 1).select($"id".as("id_a")), Seq("id_a"))
      .join(dd.filter($"keep" === 1).select($"id".as("id_b")), Seq("id_b"))
    assert(keptPairs.count() === 0)
  }

  test("banded index params sidecar: mismatched probe or append fails loud") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
      .filter($"doc_id" < 40)
    val dir = java.nio.file.Files.createTempDirectory("sidecar_idx").toString
    try {
      Dedup.writeNearDupIndex(docs, "doc_id", "text", 3, 8, 2, 64, dir)
      // Probe with a different shingleK: wrong pairs would come back
      // silently without the sidecar check.
      val e1 = intercept[IllegalArgumentException] {
        Dedup.probeNearDupIndex(spark, dir, docs, "doc_id", "text",
          5, 8, 2, 0.5)
      }
      assert(e1.getMessage.contains("different parameters"))
      // Append through another family: its rows would land in a layout
      // whose probes can never match them.
      val e2 = intercept[IllegalArgumentException] {
        Dedup.appendToSimhashWideIndex(docs, "doc_id", "text", 7, dir)
      }
      assert(e2.getMessage.contains("different parameters"))
      // A parquet dir that is not a graft index at all (no sidecar).
      val bare = java.nio.file.Files.createTempDirectory("bare_parquet").toString
      try {
        docs.write.mode("overwrite").parquet(bare)
        val e3 = intercept[IllegalArgumentException] {
          Dedup.probeSimhashIndex(spark, bare, docs, "doc_id", "text", 8)
        }
        assert(e3.getMessage.contains("sidecar"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bare))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("cdcDedupStats flags shared-paragraph chunks despite differing context") {
    def word(i: Int) = s"w$i" // injective - no accidental sequence reuse
    val para = (0 until 120).map(word).mkString(" ")
    // Doc 2 embeds doc 1's paragraph inside entirely different text.
    val other = (500 until 560).map(word).mkString(" ")
    val df = Seq(
      (1L, para),
      (2L, s"$other $para"),
      (3L, (200 until 280).map(word).mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.cdcDedupStats(df, "doc_id", "text", k = 3, divisor = 8)
      .orderBy("doc_id").collect()
    // The shared paragraph's interior chunks hash identically in 1 and 2
    // (content-defined boundaries re-sync inside it); doc 3 shares none.
    assert(out(0).getAs[Long]("n_dup_chunks") > 0)
    assert(out(1).getAs[Long]("n_dup_chunks") > 0)
    assert(out(2).getAs[Long]("n_dup_chunks") === 0L)
  }

  test("simhash index: probe equals inline pairs") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
    val delta = docs.filter($"doc_id" < 50)
    val dir = java.nio.file.Files.createTempDirectory("simhash_idx").toString
    try {
      Dedup.writeSimhashIndex(docs, "doc_id", "text", 8, 32, dir)
      val probed = Dedup.probeSimhashIndex(spark, dir, delta,
        "doc_id", "text", 8)
      val inline = Dedup.simhashPairs(docs, "doc_id", "text", 8)
        .collect().flatMap { r =>
          val (a, b, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
          Seq((a, b, h), (b, a, h)).filter(_._1 < 50)
        }.toSet
      val got = probed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === inline)
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the simhash index scan:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("wide simhash: identical docs at distance 0; pairs equal the " +
    "brute-force two-word hamming decision") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq((1L, base), (2L, base), (3L, base.replace("alpha", "omega")),
      (4L, "totally different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashWideFrame(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = ham(sigs(a), sigs(b)) if h <= 7
    } yield (a, b, h)).toSet
    val pairs = Dedup.simhashWidePairs(df, "doc_id", "text", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === brute)          // pigeonhole recall is exact within maxHamming
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("autoBuckets: corpus-derived power-of-two widths, clamped") {
    assert(BandedIndex.autoBuckets(0) === 16)            // min clamp
    assert(BandedIndex.autoBuckets(5000) === 16)         // 5000/512=9 -> min
    assert(BandedIndex.autoBuckets(512 * 1024) === 1024) // exact pow2
    assert(BandedIndex.autoBuckets(1L << 40) === 32768)  // max clamp
    assert(BandedIndex.autoBuckets(513 * 1024) === 2048) // rounds UP
  }

  test("auto-sized wide-simhash index: sidecar-resolved probe equals " +
    "explicit-width probe; append path resolves too") {
    val docs = spark.read.parquet(sf("documents"))
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    val dir = java.nio.file.Files.createTempDirectory("wsauto").toString
    val dir2 = java.nio.file.Files.createTempDirectory("wsexplicit").toString
    try {
      val chosen = Dedup.writeSimhashWideIndexAuto(docs, "doc_id", "text",
        maxHamming = 7, path = dir)
      assert(chosen === BandedIndex.autoBuckets(docs.count()))
      assert(BandedIndex.paramOf(spark, dir, "simhash-wide", "nBuckets") ===
        chosen.toString)
      // The same width written explicitly: probes read the width from
      // each sidecar, so both layouts answer identically.
      Dedup.writeSimhashWideIndex(docs, "doc_id", "text", 7, chosen, dir2)
      val delta = spark.read.parquet(sf("documents"))
        .select($"doc_id", $"text").filter($"doc_id" >= 200 && $"doc_id" < 230)
      val auto = Dedup.probeSimhashWideIndex(spark, dir, delta,
        "doc_id", "text", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val explicit = Dedup.probeSimhashWideIndex(spark, dir2, delta,
        "doc_id", "text", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(auto === explicit)
      Dedup.appendToSimhashWideIndex(delta, "doc_id", "text",
        maxHamming = 7, path = dir)   // sidecar-resolved width
      val after = Dedup.probeSimhashWideIndex(spark, dir,
        delta.limit(5), "doc_id", "text", maxHamming = 7)
      assert(after.columns.toSeq === Seq("query_id", "cand_id", "hamming"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    }
  }

  test("wide simhash: balanced bands accept the whole documented " +
    "maxHamming domain, recall still exact") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq((1L, base), (2L, base), (3L, base.replace("alpha", "omega")),
      (4L, "totally different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashWideFrame(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // 20 and 30 tripped the old uniform-ceil slicer's empty-band require
    // (ceil(60/11)=6 with 6*10>=60); 119 is the domain edge (60+60 bands).
    for (mh <- Seq(20, 30, 119)) {
      val brute = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = ham(sigs(a), sigs(b)) if h <= mh
      } yield (a, b, h)).toSet
      val pairs = Dedup.simhashWidePairs(df, "doc_id", "text", maxHamming = mh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs === brute, s"maxHamming=$mh")
    }
  }

  test("wide simhash index: probe equals inline pairs; grown equals " +
    "rebuild; 60-bit layout rejected loud") {
    val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
    val delta = docs.filter($"doc_id" < 50)
    val dir = java.nio.file.Files.createTempDirectory("simw_idx").toString
    val dir2 = java.nio.file.Files.createTempDirectory("simw_grown").toString
    try {
      Dedup.writeSimhashWideIndex(docs, "doc_id", "text", 7, 256, dir)
      val probed = Dedup.probeSimhashWideIndex(spark, dir, delta,
        "doc_id", "text", 7)
      val inline = Dedup.simhashWidePairs(docs, "doc_id", "text", 7)
        .collect().flatMap { r =>
          val (a, b, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
          Seq((a, b, h), (b, a, h)).filter(_._1 < 50)
        }.toSet
      val got = probed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === inline)
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the wide-simhash index scan:\n$plan")
      Dedup.writeSimhashWideIndex(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", 7, 256, dir2)
      Dedup.appendToSimhashWideIndex(docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", 7, dir2)
      val grown = Dedup.probeSimhashWideIndex(spark, dir2, delta,
        "doc_id", "text", 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(grown === got)
      // A 60-bit simhash layout probed as wide must fail on the sidecar,
      // not silently return wrong pairs.
      val dir3 = java.nio.file.Files.createTempDirectory("simw_bad").toString
      try {
        Dedup.writeSimhashIndex(docs, "doc_id", "text", 8, 32, dir3)
        val e = intercept[IllegalArgumentException] {
          Dedup.probeSimhashWideIndex(spark, dir3, delta,
            "doc_id", "text", 7).collect()
        }
        assert(e.getMessage.contains("different parameters"))
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir3))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    }
  }

  test("wide hamming index over two-word image hashes: probe equals " +
    "inline wide pairs; grown equals rebuild; narrow layout rejected loud") {
    implicit val s = spark
    val ids = (0L until 64L).toDF("doc_id")
    val hashes = Multimodal.extractImageHashesWide(
      Multimodal.syntheticImageGroups(ids, "doc_id")).toDF()
      .localCheckpoint(true)
    val delta = hashes.filter($"media_id" < 16)
    val dir = java.nio.file.Files.createTempDirectory("hamw_idx").toString
    val dir2 = java.nio.file.Files.createTempDirectory("hamw_grown").toString
    try {
      Dedup.writeHammingWideIndex(hashes, "media_id", "dhash", "vhash",
        56, 54, 7, 16, dir)
      val probed = Dedup.probeHammingWideIndex(spark, dir, delta,
        "media_id", "dhash", "vhash", 56, 54, 7)
      val inline = Dedup.hammingNearDupPairsWide(hashes, "media_id",
        "dhash", "vhash", 56, 54, 7).collect().flatMap { r =>
          val (a, b, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
          Seq((a, b, h), (b, a, h)).filter(_._1 < 16)
        }.toSet
      assert(inline.nonEmpty) // fixture groups of 4 inside the delta
      val got = probed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === inline)
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the wide hamming index scan:\n$plan")
      Dedup.writeHammingWideIndex(hashes.filter($"media_id" % 2 === 0),
        "media_id", "dhash", "vhash", 56, 54, 7, 16, dir2)
      Dedup.appendToHammingWideIndex(hashes.filter($"media_id" % 2 === 1),
        "media_id", "dhash", "vhash", 56, 54, 7, dir2)
      val grown = Dedup.probeHammingWideIndex(spark, dir2, delta,
        "media_id", "dhash", "vhash", 56, 54, 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(grown === got)
      // A narrow 60-bit simhash layout probed as wide must fail on the
      // sidecar, not silently return wrong pairs.
      val dir3 = java.nio.file.Files.createTempDirectory("hamw_bad").toString
      try {
        Dedup.writeSimhashIndex(Seq((1L, "a narrow layout")).toDF("doc_id", "text"),
          "doc_id", "text", 7, 16, dir3)
        val e = intercept[IllegalArgumentException] {
          Dedup.probeHammingWideIndex(spark, dir3, delta,
            "media_id", "dhash", "vhash", 56, 54, 7).collect()
        }
        assert(e.getMessage.contains("different parameters"))
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir3))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    }
  }

  test("wide strided video-hash SET index: set probe equals inline wide " +
    "set pairs, recovers scrambled-first-frame groups, grown equals rebuild") {
    implicit val s = spark
    val ids = (0L until 64L).toDF("doc_id")
    val strided = Multimodal.extractVideoFrameHashesStridedWide(
      Multimodal.syntheticVideoGroupsStrided(ids, "doc_id"), k = 3).toDF()
      .localCheckpoint(true)
    val delta = strided.filter($"media_id" < 16)
    val dir = java.nio.file.Files.createTempDirectory("vsetw_idx").toString
    val dir2 = java.nio.file.Files.createTempDirectory("vsetw_grown").toString
    try {
      Dedup.writeHammingWideIndex(strided, "media_id", "dhash", "vhash",
        56, 54, 7, 16, dir)
      val got = Dedup.probeHammingWideIndexSet(spark, dir, delta,
        "media_id", "dhash", "vhash", 56, 54, 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val inline = Dedup.hammingNearDupPairsSetWide(strided, "media_id",
        "dhash", "vhash", 56, 54, 7).collect().flatMap { r =>
          val (a, b, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
          Seq((a, b, h), (b, a, h)).filter(_._1 < 16)
        }.toSet
      assert(inline.nonEmpty)
      assert(got === inline)
      // The wide member-set still recovers the scrambled-frame-0 groups
      // through the shared later frames.
      assert(got.exists { case (a, b, _) => a / 4 == b / 4 },
        "wide set probe must recover intra-group pairs")
      Dedup.writeHammingWideIndex(strided.filter($"media_id" % 2 === 0),
        "media_id", "dhash", "vhash", 56, 54, 7, 16, dir2)
      Dedup.appendToHammingWideIndex(strided.filter($"media_id" % 2 === 1),
        "media_id", "dhash", "vhash", 56, 54, 7, dir2)
      val grown = Dedup.probeHammingWideIndexSet(spark, dir2, delta,
        "media_id", "dhash", "vhash", 56, 54, 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(grown === got)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    }
  }

  test("wide strided hashes: per-frame words match the narrow strided " +
    "dhash and the wide first-frame vhash kernel") {
    implicit val s = spark
    val ids = (0L until 16L).toDF("doc_id")
    val fixture = Multimodal.syntheticVideoGroupsStrided(ids, "doc_id")
    val narrow = Multimodal.extractVideoFrameHashesStrided(fixture, k = 3)
      .collect().map(h => (h.media_id, h.frame_idx) -> h.dhash).toMap
    val wide = Multimodal.extractVideoFrameHashesStridedWide(fixture, k = 3)
      .collect()
    assert(wide.nonEmpty)
    wide.foreach { h =>
      assert(narrow((h.media_id, h.frame_idx)) === h.dhash,
        s"horizontal word drifted for (${h.media_id}, ${h.frame_idx})")
    }
    // Frame 0 of each video is the first frame: its wide words must
    // equal the first-frame wide decoder's.
    val ff = Multimodal.extractVideoFrameHashesWide(fixture).collect()
      .map(h => h.media_id -> (h.dhash, h.vhash)).toMap
    wide.filter(_.frame_idx == 0).foreach { h =>
      assert(ff(h.media_id) === ((h.dhash, h.vhash)))
    }
  }

  test("wide two-word perceptual hash: horizontal word bit-identical to " +
    "the narrow dHash, wide pairs are a subset of narrow pairs at the " +
    "same budget, fixture groups still recovered") {
    implicit val s = spark
    val ids = (0L until 64L).toDF("doc_id")
    val media = Multimodal.syntheticImageGroups(ids, "doc_id")
    val narrow = Multimodal.extractImageHashes(media).toDF()
      .localCheckpoint(true)
    val wide = Multimodal.extractImageHashesWide(media).toDF()
      .localCheckpoint(true)
    // One cell pass, two words: the horizontal word must equal the
    // narrow family's dhash exactly (shared kernel contract).
    assert(narrow.select("media_id", "dhash")
      .except(wide.select("media_id", "dhash")).count() === 0L)
    // vhash is a genuine second word, not a copy.
    assert(wide.filter($"dhash" === $"vhash").count() < 64L)
    val narrowPairs = Dedup.hammingNearDupPairs(narrow, "media_id",
      "dhash", 56, 7).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val widePairs = Dedup.hammingNearDupPairsWide(wide, "media_id",
      "dhash", "vhash", 56, 54, 7).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Total two-word hamming <= 7 implies horizontal hamming <= 7.
    assert(widePairs.subsetOf(narrowPairs))
    // The brightness-nudged fixture groups survive the stricter match.
    assert(widePairs.exists { case (a, b) => a / 4 == b / 4 },
      "wide pairs must keep intra-group near-dups")
    // The same-budget text-wide refactor: 60+60 banding unchanged —
    // simhashWidePairs still finds a reordered (bag-equal) pair.
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"),
      (3L, "totally different words here now")).toDF("doc_id", "text")
    val tp = Dedup.simhashWidePairs(docs, "doc_id", "text", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(tp.toSeq === Seq((1L, 2L, 0)))
  }

  test("minhashLshPairs finds a one-word-edit near-dup and no false pairs") {
    val base = "the quick brown fox jumps over the lazy dog and keeps on " +
      "running through the quiet green field toward the distant hills"
    val df = Seq(
      (1L, base),
      (2L, base.replace("quick", "swift")),
      (3L, "completely different text about spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 3, 8, 2, 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getDouble(2) > 0.5 && pairs.head.getDouble(2) < 1.0)
  }

  test("clusterCanonical keeps the best-scored member, smallest id on ties") {
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L))
      .toDF("doc_id", "cluster_id")
    val scored = Seq((10L, 0.5), (11L, 0.9), (12L, 0.9), (20L, 0.3), (21L, 0.3))
      .toDF("doc_id", "quality")
    val out = Dedup.clusterCanonical(clusters, scored, "doc_id", "quality")
    val plan = out.queryExecution.executedPlan.toString
    val rows = out.orderBy("cluster_id").collect()
    // cluster 1: 0.9 tie between 11 and 12 -> smallest id 11
    assert(rows(0).getLong(1) === 11L && rows(0).getLong(2) === 3L)
    assert(rows(0).getDouble(3) === 0.9)
    // cluster 2: 0.3 tie -> 20
    assert(rows(1).getLong(1) === 20L && rows(1).getLong(2) === 2L)
    assert(plan.contains("graft_top_k") && !plan.contains("row_number"),
      s"argmax must be the heap aggregate:\n$plan")
    // non-integral ids are rejected up front (payload-order contract)
    intercept[IllegalArgumentException] {
      Dedup.clusterCanonical(
        clusters.withColumn("doc_id", $"doc_id".cast("string")),
        scored.withColumn("doc_id", $"doc_id".cast("string")),
        "doc_id", "quality")
    }
  }

  test("sourceOverlap: shared shingles counted once, zero pairs kept") {
    val shared = "alpha beta gamma delta epsilon"
    val df = Seq(
      (1L, "A", shared), (2L, "A", shared),      // dup within A: distinct once
      (3L, "B", shared + " zeta"),               // shares A's 3 shingles
      (4L, "C", "one two three four"))           // disjoint
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(df, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // A has 3 distinct shingles, B has 4 (3 shared), C has 2
    assert(out(("A", "B")) === ((3L, 3.0 / 4)))
    assert(out(("A", "C")) === ((0L, 0.0)))
    assert(out(("B", "C")) === ((0L, 0.0)))
    assert(out.size === 3)
  }

  test("simhash is identical for identical text, near for near-dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq((1L, base), (2L, base), (3L, base.replace("alpha", "omega")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) === 0)           // identical docs: distance 0
    assert(pairs.get((1L, 3L)).forall(_ > 0)) // edit moves some bits if paired
  }

  test("ngramJaccardPairs computes the exact Jaccard value") {
    // 5 tokens -> 3 distinct 3-shingles each; one-token suffix edit keeps
    // the first 2 shingles: J = 2 / (3 + 3 - 2) = 0.5.
    val df = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.3).collect()
    assert(out.length === 1 && out.head.getDouble(2) === 0.5)
  }

  test("ngramJaccard stop-shingle cap only affects candidate generation") {
    // The shared shingle "x y z" appears in all 4 docs; with the cap at 3
    // it is excluded from candidates, and docs sharing ONLY it never pair.
    val df = Seq(
      (1L, "x y z a b"), (2L, "x y z c d"), (3L, "x y z e f"), (4L, "x y z g h"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.01, maxShingleDf = 3)
    assert(capped.count() === 0)
    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.01)
    assert(uncapped.count() === 6) // all pairs share "x y z"
  }

  test("ngramContainmentPairs: an embedded excerpt scores 1.0 where its " +
    "Jaccard is low; partial overlap scores the exact fraction") {
    val big = "q w e r t y u i o p a s d f g h j k l z"   // 20 tokens
    val df = Seq(
      (1L, big),
      (2L, "q w e r t"),        // 5-token prefix: 3 shingles, all in doc 1
      (3L, "t y u x x x x"))    // shares 1 of its 4 distinct shingles
      .toDF("doc_id", "text")
    val out = Dedup.ngramContainmentPairs(df, "doc_id", "text", 3,
      threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // doc 2 in doc 1: containment 3/3 = 1.0 — but Jaccard is 3/18.
    assert(out((1L, 2L)) === ((3L, 1.0)))
    assert(out((1L, 3L)) === ((1L, 0.25)))
    // The Jaccard family at the same threshold level misses the excerpt.
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
    assert(jac.count() === 0)
  }

  test("dedupClusters: chain, triangle and pair resolve to min-id components") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // 6-node chain
      (10L, 11L), (11L, 12L), (10L, 12L),               // triangle
      (20L, 21L))                                       // isolated pair
      .toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(out(_) === 1L)) // chain needs several rounds
    assert(Seq(10L, 11L, 12L).forall(out(_) === 10L))
    assert(out(20L) === 20L && out(21L) === 20L)
  }

  test("dedupClusters converges on a 512-node chain via adaptive pointer jumping") {
    // Diameter 512 >> maxIters 25: propagate-only would refuse; the
    // adaptive jump (after round 8) collapses the chain exponentially.
    val chain = (0L until 511L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(chain).as[(Long, Long)].collect()
    assert(out.length === 512)
    assert(out.forall(_._2 === 0L))
  }

  test("Reliable/Path materialization strategies agree with the Local default") {
    import graft.ops.Materialize
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toSet
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("rel_ckpt").toString)
    val reliable = Dedup.dedupClusters(pairs, mat = Materialize.Reliable)
      .as[(Long, Long)].collect().toSet
    assert(reliable === local)
    val dir = java.nio.file.Files.createTempDirectory("path_mat").toString
    val pathed = Dedup.dedupClusters(pairs, mat = Materialize.Path(dir))
      .as[(Long, Long)].collect().toSet
    assert(pathed === local)
    // the explicit-path intermediates are durable and inspectable
    assert(spark.read.parquet(s"$dir/edges").count() === 8)
  }

  test("embeddingNearDupPairs only pairs within a bucket") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.01f), 0),
      (3L, Array(1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", "label", 0.9)
      .collect()
    // (1,3) are identical but in different buckets -> never compared.
    assert(out.map(r => (r.getLong(0), r.getLong(1))) === Array((1L, 2L)))
  }

  test("substringDupStats counts corpus-duplicated grams with multiplicity") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),   // grams at 0,1 shared with doc 2
      (2L, "a the quick brown fox"),       // grams at 1,2 shared with doc 1
      (3L, "completely different words here"),
      (4L, "x y z x y z x y z"))           // internal repeats: all 7 dup
      .toDF("doc_id", "text")
    val out = Dedup.substringDupStats(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(
      (1L, 3L, 2L, 2.0 / 3), (2L, 3L, 2L, 2.0 / 3),
      (3L, 2L, 0L, 0.0), (4L, 7L, 7L, 1.0)))
  }

  test("substringDupSpans merges adjacent dup positions into intervals") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a the quick brown fox"),
      (3L, "completely different words here"),
      (4L, "x y z x y z x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc 1: dup grams start at 0,1 -> tokens [0, 3]; doc 2: 1,2 -> [1, 4];
    // doc 3: none; doc 4: 0..6 -> [0, 8].
    assert(out === Array((1L, 0, 3, 2L), (2L, 1, 4, 2L), (4L, 0, 8, 7L)))
  }

  test("substringClean cuts spans, keeps order, drops covered docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a the quick brown fox"),
      (3L, "completely different words here"),
      (4L, "x y z x y z x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.substringClean(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // doc 1: span [0,3] -> "jumps"; doc 2: span [1,4] -> "a";
    // doc 3 untouched; doc 4 fully covered -> dropped.
    assert(out === Array(
      (1L, 1L, "jumps"), (2L, 1L, "a"),
      (3L, 4L, "completely different words here")))
  }

  test("substringDupSpans splits runs separated by a unique gram") {
    // "p q r" (dup) + unique bridge + "p q r" (dup) in one doc against a
    // second doc that repeats only "p q r".
    val docs = Seq(
      (1L, "p q r unique bridge tokens p q r"),
      (2L, "p q r"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(docs, "doc_id", "text", k = 3)
      .filter($"doc_id" === 1L).orderBy("span_start").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc 1 grams: pos 0 "p q r" (x3 in corpus), pos 1..5 unique, pos 6
    // "p q r" -> two single-gram spans [0,2] and [6,8].
    assert(out === Array((0, 2, 1L), (6, 8, 1L)))
  }

  test("probeHammingWideIndex: a PINNED delta probes " +
    "row-identically to the DPP path and reads only the probed directories") {
    // Synthetic two-word signatures: positive, inside the (56, 54)
    // widths, spread across band keys.
    val sigs = (0L until 200L).map { i =>
      (i, (i * 2654435761L) & ((1L << 56) - 1),
        (i * 1099511628211L) & ((1L << 54) - 1))
    }.toDF("id", "lo", "hi")
    val dir = java.nio.file.Files.createTempDirectory("wide_sp").toString
    try {
      Dedup.writeHammingWideIndex(sigs, "id", "lo", "hi", nLoBits = 56,
        nHiBits = 54, maxHamming = 7, nBuckets = 16, path = dir)
      // The delta re-uploads 3 corpus signatures under fresh ids
      // (hamming 0 — designed hits).
      def delta = sigs.filter($"id" < 3)
        .select(($"id" + 1000L).as("id"), $"lo", $"hi")
      val viaDpp = Dedup.probeHammingWideIndex(spark, dir, delta,
        "id", "lo", "hi", 56, 54, maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // The STREAMING-SINK shape: the delta is pinned (localCheckpoint),
      // which hides its size stats and silently disables DPP — the
      // probe must see the pin and prune statically on its own, with
      // the identical rows from a pruned read.
      val pinned = graft.ops.Materialize.pin(delta)
      val viaStatic = Dedup.probeHammingWideIndex(spark, dir, pinned,
        "id", "lo", "hi", 56, 54, maxHamming = 7)
      val (rows, scanned) = {
        val plan = viaStatic.queryExecution.executedPlan
        val n = plan.execute().count()
        val parts = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("wide_sp")) => f
        }.map(_.metrics.get("numPartitions").map(_.value).getOrElse(-1L))
        (n, parts.sum)
      }
      assert(rows === viaDpp.size)
      assert(viaStatic.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === viaDpp)
      assert(viaDpp.exists(_._3 == 0), "designed hamming-0 hits missing")
      // 3 delta signatures × 8 bands = at most 24 probed directories of
      // the 8 × 16 layout — a full read would be ~128.
      assert(scanned <= 24, s"static prune read $scanned directories")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("probeJoinStatic key cap: over maxKeys the probe falls back to an " +
    "unfiltered read with IDENTICAL rows, and records the fallback") {
    val params = Map("family" -> "spec-cap")
    val layout = (0L until 80L)
      .map(i => (i, (i % 4).toInt, (i % 8).toInt, i * 31L))
      .toDF("cand_id", "band", "bkt", "sig")
    val dir = java.nio.file.Files.createTempDirectory("spcap").toString + "/ix"
    try {
      BandedIndex.writeLayout(layout, dir, Some(params))
      // 12 probed (band, bkt) keys; payload joins as a residual-free
      // broadcast.
      val qb = (0L until 12L)
        .map(i => (i + 1000L, (i % 4).toInt, (i % 8).toInt))
        .toDF("query_id", "band", "bkt")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pruned = rows(BandedIndex.probeJoinStatic(spark, dir, qb, Nil))
      assert(BandedIndex.staticPruneFallback(dir) === 0L)
      assert(BandedIndex.probeBroadcastFallback(dir) === 0L)
      // Cap BELOW the probed key count: the predicate is dropped, the
      // read is the full layout, the JOIN result is identical — and the
      // fallback is loud (diagnostic counter carries the key count).
      val capped = rows(BandedIndex.probeJoinStatic(spark, dir, qb, Nil,
        maxKeys = 5))
      assert(capped === pruned)
      assert(BandedIndex.staticPruneFallback(dir) > 5L)
      // The key-cap fallback is corpus-shaped by definition: the
      // broadcast hint must have been dropped too (untotalled sentinel).
      assert(BandedIndex.probeBroadcastFallback(dir) === Long.MaxValue)
      assert(pruned.nonEmpty)
      // Broadcast-row cap alone (keys under their cap): rows identical,
      // prune diagnostic clean, broadcast fallback carries the count.
      val rowCapped = rows(BandedIndex.probeJoinStatic(spark, dir, qb, Nil,
        maxBroadcastRows = 5L))
      assert(rowCapped === pruned)
      assert(BandedIndex.staticPruneFallback(dir) === 0L)
      assert(BandedIndex.probeBroadcastFallback(dir) === 12L)
      // And the DPP path's guard: same rows with the hint dropped.
      val dppCapped = rows(BandedIndex.probeJoin(spark, dir, qb, Nil,
        maxBroadcastRows = 5L, qbRows = 12L))
      assert(dppCapped === pruned)
      assert(BandedIndex.probeBroadcastFallback(dir) === 12L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir).getParentFile)
  }

  test("every BandFamily through the one core: grown equals rebuilt, a " +
    "foreign layout fails loud, DPP on the plain probe, no static-prune " +
    "fallback") {
    val root = java.nio.file.Files.createTempDirectory("band_contract").toString
    try {
      val docs = spark.read.parquet(sf("documents")).select($"doc_id", $"text")
        .filter($"doc_id" < 300)
      val emb = spark.read.parquet(sf("embeddings")).filter($"vec_id" < 300)
      // Two-word signatures from a parquet scan (a local relation would
      // fold the delta's filter away, and with it DPP's selective side).
      (0L until 300L).map { i =>
        (i, (i * 2654435761L) & ((1L << 56) - 1),
          (i * 1099511628211L) & ((1L << 54) - 1))
      }.toDF("id", "lo", "hi").write.parquet(s"$root/sigs")
      val sigs = spark.read.parquet(s"$root/sigs")
      // (name, family, corpus, id column, nBuckets)
      val cases = Seq(
        ("exactdup", Dedup.exactDupFamily("doc_id", "text"), docs, "doc_id",
          Some(16)),
        ("neardup", Dedup.nearDupFamily("doc_id", "text", 3, 8, 2,
          graft.ops.Materialize.Local), docs, "doc_id", Some(16)),
        ("simhash", Dedup.simhashFamily("doc_id", "text", 8), docs, "doc_id",
          Some(16)),
        ("simhash-wide", Dedup.simhashWideFamily("doc_id", "text", 7), docs,
          "doc_id", Some(16)),
        ("hamming-wide", Dedup.hammingWideFamily("id", "lo", "hi", 56, 54, 7),
          sigs, "id", Some(16)),
        ("lsh", Similarity.lshFamily("vec_id", "embedding", 4, 4), emb,
          "vec_id", None),
        ("lsh-multiprobe", Similarity.lshMultiProbeFamily("vec_id",
          "embedding", 4, 4, 2), emb, "vec_id", None))
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      cases.foreach { case (name, fam, corpus, id, nBuckets) =>
        val (grown, full) = (s"$root/$name/grown", s"$root/$name/full")
        BandedIndex.write(fam, corpus.filter(col(id) % 2 === 0), grown, nBuckets)
        BandedIndex.append(fam, corpus.filter(col(id) % 2 === 1), grown)
        BandedIndex.write(fam, corpus, full, nBuckets)
        // Re-uploads of corpus members under fresh ids: each collides
        // with its original in every band.
        val delta = corpus.filter(col(id) < 20).withColumn(id, col(id) + 1000000L)
        def probe(path: String, rows: org.apache.spark.sql.DataFrame) =
          BandedIndex.probe(spark, fam, path, rows) { (joined, _) =>
            joined.select("query_id", "cand_id").distinct()
          }
        // The static key prune is a literal predicate on `bkt` among the
        // index scan's partition filters; the DPP plan has none.
        def keyPruned(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.sparkPlan.collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec =>
              s.partitionFilters
          }.flatten.exists { e =>
            e.references.exists(_.name == "bkt") &&
            !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull] &&
            !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]
          }
        val plain = probe(full, delta)
        val want = pairs(plain)
        assert(want.size >= 10, s"$name: re-uploads not found: $want")
        assert(pairs(probe(grown, delta)) === want,
          s"$name: grown layout probes differently from the rebuilt one")
        assert(plain.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"), s"$name: no partition pruning")
        assert(!keyPruned(plain), s"$name: file-backed delta pruned statically")
        // A pinned delta: the probe picks the static key prune itself.
        val static = probe(full, graft.ops.Materialize.pin(delta))
        assert(pairs(static) === want, s"$name: static")
        assert(BandedIndex.staticPruneFallback(full) === 0L, name)
        assert(keyPruned(static), s"$name: pinned delta not pruned statically")
        val foreign = cases.map(_._2).find(_.params != fam.params).get
        val e1 = intercept[IllegalArgumentException] {
          BandedIndex.probe(spark, foreign, full, delta)((joined, _) => joined)
        }
        assert(e1.getMessage.contains("different parameters"), name)
        val e2 = intercept[IllegalArgumentException] {
          BandedIndex.append(foreign, delta, full)
        }
        assert(e2.getMessage.contains("different parameters"), name)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("pqCodebooks exact-arithmetic guard: loud past the micro-unit " +
    "bound, silent at it") {
    Similarity.requirePqTrainingExact(Similarity.MaxExactPqTrainingRows)
    val e = intercept[IllegalArgumentException] {
      Similarity.requirePqTrainingExact(Similarity.MaxExactPqTrainingRows + 1)
    }
    assert(e.getMessage.contains("sample"))
    // Injectable bound proves the guard sits on the live training path
    // at test scale.
    intercept[IllegalArgumentException] {
      Similarity.requirePqTrainingExact(11L, bound = 10L)
    }
  }

  test("overCapBuckets reports exactly the buckets the probe cap excludes") {
    // 6 identical vectors land in ONE bucket per table; 2 distinct others
    // stay under any cap. numTables=4 -> 4 over-cap rows at cap 3.
    val vecs = (0 until 6).map(i => (i.toLong, Seq(1.0, 2.0, 3.0))) ++
      Seq((10L, Seq(-5.0, 1.0, 0.5)), (11L, Seq(2.0, -7.0, 4.0)))
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("embedding"))
    val over = Similarity.overCapBuckets(df, "vec_id", "embedding",
      numPlanes = 4, numTables = 4, maxBucketWidth = 3).collect()
    assert(over.length === 4)
    assert(over.forall(_.getAs[Long]("width") >= 6L))
    // Default cap on a benign corpus: empty = nothing excluded.
    assert(Similarity.overCapBuckets(df, "vec_id", "embedding",
      numPlanes = 4, numTables = 4).isEmpty)
  }

  test("ivfRangeFromIndex: subset of brute at full probe width it IS " +
    "brute; scores carry the exact cosine") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrange").toString
    try {
      // Two tight clusters far apart: range neighbors = own cluster.
      val vecs = ((0 until 12).map(i =>
        (i.toLong, Seq(10.0f + i % 3, 1.0f))) ++
        (12 until 24).map(i => (i.toLong, Seq(-10.0f - i % 3, 1.0f))))
        .toDF("vec_id", "embedding")
      Similarity.writeIvfIndex(vecs, "vec_id", "embedding", nCells = 2,
        path = dir)
      val q = vecs.filter($"vec_id" === 0L || $"vec_id" === 12L)
      val brute = Similarity.rangeSearch(vecs, q, "vec_id", "embedding", 0.9)
        .select($"query_id", $"cand_id", $"cos")
        .as[(Long, Long, Double)].collect().toSet
      // Probing ALL cells makes the pruned result exactly brute.
      val full = Similarity.ivfRangeFromIndex(spark, dir, q, "vec_id",
          "embedding", 0.9, nProbe = 2)
        .select($"query_id", $"cand_id", $"cos")
        .as[(Long, Long, Double)].collect().toSet
      assert(full === brute)
      // At nProbe=1 still a subset, and cross-cluster pairs never appear.
      val pruned = Similarity.ivfRangeFromIndex(spark, dir, q, "vec_id",
          "embedding", 0.9, nProbe = 1)
        .select($"query_id", $"cand_id", $"cos")
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned.subsetOf(brute))
      assert(pruned.forall { case (qid, cid, _) =>
        (qid < 12) == (cid < 12) })
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("rangeSearch returns exactly the non-self pairs at/above the " +
    "cosine threshold, and never a self pair") {
    // v0 ∥ v1 (cos 1), v0 ⊥ v2 (cos 0), v0 vs v3 at cos ≈ 0.707.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.rangeSearch(vecs, vecs.filter($"vec_id" < 2),
        "vec_id", "embedding", minCos = 0.5)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    assert(out === Set((0L, 1L), (0L, 3L), (1L, 0L), (1L, 3L)))
  }

  test("bruteForceTopK ranks by cosine, excludes self, breaks ties by id") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", 3).orderBy("rank").collect()
    assert(out.map(_.getLong(1)) === Array(3L, 1L, 2L)) // exact dup first
    assert(out(0).getDouble(2) === 1.0)
    assert(out.map(_.getInt(3)) === Array(1, 2, 3))
  }

  test("IVF top-k probes a subset of cells and still finds near neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 10, 3)
    val rows = ivf.select("query_id", "cand_id").as[(Long, Long)].collect()
    assert(rows.length === 50) // 5 per query
    val recall = rows.toSet.intersect(brute).size
    assert(recall >= 5, s"IVF recall $recall/50 below floor")
  }

  test("pqRerankTopK: codes compress to m small ints, rerank recall beats " +
    "the floor, and the result is partitioning-invariant") {
    val emb = spark.read.parquet(sf("embeddings"))
    val isQ = $"vec_id" < 5
    val pq = Similarity.pqRerankTopK(emb, "vec_id", "embedding", isQ,
      k = 5, m = 8, codebookK = 16, oversample = 4)
    val brute = Similarity.bruteForceTopK(emb, emb.filter(isQ),
      "vec_id", "embedding", 5)
    // Every query answers with exactly k rows in heap order.
    val byQ = pq.collect().groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(byQ.values.forall(_.length === 5))
    // Rerank recall: the 4x-oversampled ADC shortlist recovers most of
    // the true top-5 on the fixture corpus.
    val rec = Similarity.recallAtK(brute, pq, 5)
      .select("recall").collect().map(_.getDouble(0))
    assert(rec.forall(_ >= 0.2), s"recall@5 too low: ${rec.mkString(",")}")
    // Training is partition-pinned: a different input layout yields the
    // identical result rows (the ivfAssign determinism contract).
    val again = Similarity.pqRerankTopK(emb.repartition(13), "vec_id",
      "embedding", isQ, k = 5, m = 8, codebookK = 16, oversample = 4)
    assert(again.collect().toSet === pq.collect().toSet)
  }

  test("IVF-PQ index: append against frozen artifacts equals build-time " +
    "presence; probe answers for rows training never saw") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    try {
      // Build on evens, append odds (frozen centroids + codebooks).
      Similarity.writeIvfPqIndex(emb.filter($"vec_id" % 2 === 0),
        "vec_id", "embedding", nCells = 4, m = 8, codebookK = 8,
        path = s"$dir/grown")
      Similarity.appendToIvfPqIndex(spark, emb.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", s"$dir/grown")
      // Append == build-time presence: every appended row's (cell, codes)
      // matches what a fresh encode of the same row against the same
      // artifacts produces — read back and spot-check determinism by
      // appending the SAME rows to a copy and comparing.
      val grown = spark.read.parquet(s"$dir/grown/codes")
      assert(grown.count() === emb.count())
      assert(grown.select($"cand_id").distinct().count() === emb.count())
      val probe = Similarity.ivfPqTopKFromIndex(spark, s"$dir/grown", emb,
        "vec_id", "embedding", $"vec_id" < 5, k = 5, nProbe = 4,
        oversample = 4)
      val rows = probe.collect()
      assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 5))
      // Odd (appended) candidates are reachable.
      assert(rows.exists(r => r.getLong(1) % 2 == 1))
      // Rerank scores are the exact cosine: spot-check one row.
      val r0 = rows.head
      val byId = emb.filter($"vec_id".isin(r0.getLong(0), r0.getLong(1)))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def d(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val (qv, cv) = (byId(r0.getLong(0)), byId(r0.getLong(1)))
      val want = d(qv, cv) / (math.sqrt(d(qv, qv)) * math.sqrt(d(cv, cv)))
      assert(math.abs(r0.getDouble(2) - want) < 1e-9)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("multi-table LSH recall dominates single-table on real embeddings") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def recall(tables: Int) =
      Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 4, tables)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
        .intersect(brute).size
    assert(recall(4) >= recall(1))
  }

  test("lshTopK bucket-width cap: hot buckets excluded, benign corpora unchanged") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    // The DEFAULT (finite) cap sits far above every benign bucket width:
    // it must not change a single row vs the explicit opt-out.
    val uncapped = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 4, 4,
      maxBucketWidth = Long.MaxValue)
    val capped = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 4, 4)
    assert(capped.collect().toSet === uncapped.collect().toSet)
    // A probe that capped nothing reports zero exclusions.
    assert(Similarity.lastCapExclusions.get() === 0L)
    // Adversarial hot bucket: mass-duplicate one vector past the DEFAULT
    // cap so ALL its copies hash to the same (tbl, bucket) in every
    // table. WITHOUT the caller setting anything, those buckets are
    // skipped — the plan completes with a bounded pair frame and the
    // duplicated ids never reach candidate scoring; the remaining corpus
    // still answers.
    val base = emb.filter($"vec_id" >= 5 && $"vec_id" < 30)
    val hotVec = emb.filter($"vec_id" === 5).select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding")
    val nClones = Similarity.DefaultMaxBucketWidth + 2000
    val clones = spark.range(1000, 1000 + nClones)
      .select($"id".as("vec_id"), typedLit(hotVec.toSeq).as("embedding"))
    val degenerate = base.select($"vec_id", $"embedding").unionByName(clones)
    val out = Similarity.lshTopK(degenerate, q, "vec_id", "embedding", 5, 4, 4)
    // The cap FIRING is no longer silent: the probe records how many
    // buckets it excluded (and WARNs) the moment the plan is built.
    assert(Similarity.lastCapExclusions.get() >= 4L,
      s"cap fired but reported ${Similarity.lastCapExclusions.get()} exclusions")
    val cands = out.select("cand_id").as[Long].collect().toSet
    assert(out.count() > 0)
    assert(cands.forall(_ < 1000), s"clone ids leaked past the cap: $cands")
    // A tighter explicit cap still works the same way.
    val tight = Similarity.lshTopK(degenerate, q, "vec_id", "embedding",
      5, 4, 4, maxBucketWidth = 500L)
    assert(tight.select("cand_id").as[Long].collect().forall(_ < 1000))
  }

  test("lshTopKFromIndex surfaces the bucket cap like the inline path") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 3)
    val hotVec = emb.filter($"vec_id" === 5).select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding")
    val clones = spark.range(1000, 1600)
      .select($"id".as("vec_id"), typedLit(hotVec.toSeq).as("embedding"))
    val degenerate = emb.filter($"vec_id" >= 5 && $"vec_id" < 30)
      .select($"vec_id", $"embedding").unionByName(clones)
    val dir = java.nio.file.Files.createTempDirectory("lshcap").toString
    try {
      Similarity.writeLshIndex(degenerate, "vec_id", "embedding",
        numPlanes = 4, numTables = 4, path = dir)
      val out = Similarity.lshTopKFromIndex(spark, dir, q,
        "vec_id", "embedding", 5, 4, 4, maxBucketWidth = 100L)
      assert(Similarity.lastCapExclusions.get() >= 1L)
      assert(out.select("cand_id").as[Long].collect().forall(_ < 1000))
      // Uncapped probe of the same index: signal resets to zero only on
      // the next CAPPED probe; opt-out leaves it untouched by contract.
      val wide = Similarity.lshTopKFromIndex(spark, dir, q,
        "vec_id", "embedding", 5, 4, 4)
      assert(Similarity.lastCapExclusions.get() === 0L)
      assert(wide.count() >= out.count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("ANN ranking runs as the bounded-heap aggregate, not a rank window") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    for (df <- Seq(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
        Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 4, 4),
        Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 10, 3))) {
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("graft_top_k"), s"heap aggregate missing:\n$plan")
      assert(!plan.contains("row_number"), s"rank window still present:\n$plan")
    }
  }

  test("IVF cell assignment is a codegen'd expression, not a Scala UDF") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val plan = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 10, 3)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("graft_nearest_centroid"),
      s"nearest-centroid expression missing from the IVF plan:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("UDF("),
      s"Scala UDF still present in the IVF build:\n$plan")
  }

  test("indexed IVF probe: identical rows to ivfTopK, partition-pruned scan") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    try {
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", 10, dir)
      val probed = Similarity.ivfTopKFromIndex(spark, dir, q,
        "vec_id", "embedding", 5, 3)
      val direct = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 10, 3)
      assert(probed.collect().toSet === direct.collect().toSet)
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the IVF corpus scan:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("hardNegatives: top similar minus positives; exclusion pre-ranking") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
    // Declare each query's TOP brute neighbor as its positive: it must
    // vanish, and the k-th slot must be BACKFILLED (exclusion happens
    // before ranking, not by filtering the top-k afterwards).
    val topPos = brute.groupBy(_._1).map { case (qid, cs) => (qid, cs.head._2) }.toSeq
    val hn = Similarity.hardNegatives(emb, q, topPos.toDF("q", "p"),
      "vec_id", "embedding", 5)
    val rows = hn.select("query_id", "cand_id").as[(Long, Long)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length === 5)) // still k per query
    assert(topPos.toSet.intersect(rows.toSet).isEmpty)   // positives excluded
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, q,
        emb.select("vec_id", "embedding", "label"), "vec_id", "embedding", 5)
    }
  }

  test("appendToIvfIndex assigns with the frozen centroids; clones co-locate") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_grow").toString
    try {
      val base = emb.filter($"vec_id" < 200)
      Similarity.writeIvfIndex(base, "vec_id", "embedding", 10, dir)
      // Append the SAME vectors under shifted ids: assignment is a pure
      // function of (vector, centroids), so every clone must land in its
      // base twin's cell.
      Similarity.appendToIvfIndex(spark,
        base.withColumn("vec_id", $"vec_id" + 100000L), "vec_id", "embedding", dir)
      val cells = spark.read.parquet(s"$dir/corpus")
        .select($"cand_id", $"cell".cast("int").as("cell"))
      val mismatches = cells.filter($"cand_id" < 100000L).as("a")
        .join(cells.filter($"cand_id" >= 100000L).as("b"),
          col("a.cand_id") === col("b.cand_id") - 100000L)
        .filter(col("a.cell") =!= col("b.cell")).count()
      assert(mismatches === 0L)
      // The grown index still probes: k rows per query, clones eligible.
      val q = emb.filter($"vec_id" < 3)
      val rows = Similarity.ivfTopKFromIndex(spark, dir, q,
        "vec_id", "embedding", 5, 5)
      assert(rows.groupBy("query_id").count().collect().forall(_.getLong(1) === 5L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compactIvfIndex: fewer files, rows preserved, probe unchanged") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    try {
      Similarity.writeIvfIndex(emb.filter($"vec_id" % 2 === 0),
        "vec_id", "embedding", 10, dir)
      Seq(1L, 3L, 5L).foreach { r =>
        Similarity.appendToIvfIndex(spark,
          emb.filter($"vec_id" % 6 === r), "vec_id", "embedding", dir)
      }
      val q = emb.filter($"vec_id" < 3)
      def probe() = Similarity.ivfTopKFromIndex(spark, dir, q,
        "vec_id", "embedding", 5, 5)
      val before = probe().transform(graft.ops.Materialize.pin)
      val (filesBefore, filesAfter, rows) = Similarity.compactIvfIndex(spark, dir)
      assert(filesAfter < filesBefore)
      assert(rows === emb.count())
      val after = probe()
      assert(after.except(before).count() === 0L &&
        before.except(after).count() === 0L)
      // Model artifact untouched: still exactly the 10 trained centroids.
      assert(spark.read.parquet(s"$dir/centroids").count() === 10L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("rebuildIvfIndex: retrained drifted index probes identically to " +
    "a from-scratch build") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    try {
      // Drift posture: train on evens, grow with odds against the
      // frozen centroids.
      Similarity.writeIvfIndex(emb.filter($"vec_id" % 2 === 0),
        "vec_id", "embedding", 10, s"$dir/grown")
      Similarity.appendToIvfIndex(spark, emb.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", s"$dir/grown")
      Similarity.rebuildIvfIndex(spark, s"$dir/grown", 10)
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", 10, s"$dir/fresh")
      val q = emb.filter($"vec_id" < 5)
      val a = Similarity.ivfTopKFromIndex(spark, s"$dir/grown", q,
        "vec_id", "embedding", 5, 5)
      val b = Similarity.ivfTopKFromIndex(spark, s"$dir/fresh", q,
        "vec_id", "embedding", 5, 5)
      assert(Similarity.resultsMatchPerQuery(a, b)
        .filter($"rows_match" === 0).count() === 0L)
      // No rebuild debris left beside the live layout.
      assert(!new java.io.File(s"$dir/grown_REBUILDING").exists())
      assert(!new java.io.File(s"$dir/grown${BandedIndex.AsideSuffix}").exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("appendToLshIndex: grown index probes identically to a full rebuild") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("lsh_grow").toString
    try {
      Similarity.writeLshIndex(emb.filter($"vec_id" % 2 === 0),
        "vec_id", "embedding", 4, 4, s"$dir/grown")
      Similarity.appendToLshIndex(emb.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", 4, 4, s"$dir/grown")
      Similarity.writeLshIndex(emb, "vec_id", "embedding", 4, 4, s"$dir/full")
      val grown = Similarity.lshTopKFromIndex(spark, s"$dir/grown", q,
        "vec_id", "embedding", 5, 4, 4).collect().toSet
      val full = Similarity.lshTopKFromIndex(spark, s"$dir/full", q,
        "vec_id", "embedding", 5, 4, 4).collect().toSet
      assert(grown === full)
      assert(grown === Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 4, 4)
        .collect().toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("lshPlanesAuto: width-targeted plane count, integer-exact, clamped") {
    // ceil-log2 of ceil(n / targetWidth), clamped to [4, maxPlanes] —
    // the values the SQL twin (len(bin(m - 1))) must reproduce.
    assert(Similarity.lshPlanesAuto(0) === 4)
    assert(Similarity.lshPlanesAuto(256) === 4)
    assert(Similarity.lshPlanesAuto(2000) === 4)       // m=8 -> 3 -> clamp 4
    assert(Similarity.lshPlanesAuto(20000) === 7)      // m=79 -> 7
    assert(Similarity.lshPlanesAuto(100000) === 9)     // m=391 -> 9
    assert(Similarity.lshPlanesAuto(2000000) === 13)   // m=7813 -> 13
    assert(Similarity.lshPlanesAuto(1L << 40) === 16)  // maxPlanes clamp
    assert(Similarity.lshPlanesAuto(200, targetWidth = 8) === 5) // m=25 -> 5
  }

  test("lshTablesAuto: hard-coded lookup matches the recall model, " +
    "floored at the legacy 4, recall >= 0.95 at cos 0.95 everywhere") {
    // t = ceil(ln(1-R)/ln(1-q)), q = (1 - acos(0.95)/pi)^p, R = 0.95.
    // The lookup is hard-coded (p=6's raw value is 3.994 — a libm ulp
    // could flip a runtime ceil); this guard re-derives it with an
    // interval check so the frozen integers can never silently drift
    // from the model they claim to implement.
    val r = 1.0 - math.acos(0.95) / math.Pi
    (4 to 16).foreach { p =>
      val q = math.pow(r, p)
      val raw = math.log(1 - 0.95) / math.log(1 - q)
      val expect = math.max(4, math.ceil(raw - 1e-6).toInt)
      assert(Similarity.lshTablesAuto(p) === expect,
        s"p=$p raw=$raw")
      val recall = 1 - math.pow(1 - q, Similarity.lshTablesAuto(p))
      assert(recall >= 0.95 - 1e-3, s"p=$p recall=$recall")
    }
    assert(Similarity.lshTablesAuto(4) === 4)
    assert(Similarity.lshTablesAuto(10) === 8)
    assert(Similarity.lshTablesAuto(16) === 15)
    assertThrows[IllegalArgumentException](Similarity.lshTablesAuto(3))
  }

  test("writeHammingWideIndexAuto: corpus-derived nBuckets recorded in the " +
    "sidecar, resolved back by consumers, probe hits designed twins") {
    val mask56 = (1L << 56) - 1
    val mask54 = (1L << 54) - 1
    def sig(i: Long) = ((i * 2654435761L) & mask56, (i * 40503L + 7L) & mask54)
    val corpus = (0L until 600L).map { i =>
      val (lo, hi) = sig(i); (i, lo, hi)
    }.toDF("media_id", "lo", "hi")
    // Delta: fresh ids carrying the signatures of corpus 0-9 — each
    // must hit its original at hamming 0 through the auto-width layout.
    val delta = (0L until 10L).map { i =>
      val (lo, hi) = sig(i); (1000L + i, lo, hi)
    }.toDF("media_id", "lo", "hi")
    val dir = java.nio.file.Files.createTempDirectory("hwauto").toString
    try {
      val nb = Dedup.writeHammingWideIndexAuto(corpus, "media_id", "lo", "hi",
        nLoBits = 56, nHiBits = 54, maxHamming = 7, path = dir)
      assert(nb === BandedIndex.autoBuckets(600L))
      assert(BandedIndex.paramOf(spark, dir, "hamming-sig-wide", "nBuckets") ===
        nb.toString)
      val hits = Dedup.probeHammingWideIndex(spark, dir, delta,
        "media_id", "lo", "hi", nLoBits = 56, nHiBits = 54, maxHamming = 7)
      assert(hits.filter(col("hamming") === 0).count() === 10L)
      // rowsHint: same layout decision without evaluating the frame.
      val dir2 = java.nio.file.Files.createTempDirectory("hwauto2").toString
      try {
        val nb2 = Dedup.writeHammingWideIndexAuto(corpus, "media_id", "lo",
          "hi", nLoBits = 56, nHiBits = 54, maxHamming = 7, path = dir2,
          rowsHint = 600L)
        assert(nb2 === nb)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir2))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("CrossModal: image mates with disagreeing caption keys flagged; " +
    "text-cluster keying de-flags clustered captions, singletons self-key") {
    val imgPairs = Seq((1L, 2L, 0), (1L, 3L, 2), (5L, 6L, 1))
      .toDF("id_a", "id_b", "hamming")
    val capOf = Seq((1L, 10L), (2L, 10L), (3L, 30L), (5L, 50L), (6L, 60L))
      .toDF("doc_id", "caption_doc")
    // Captions 50/60 are text near-dups (same cluster 7): pair (5,6)
    // must NOT be flagged even though the caption DOC ids differ.
    val clusters = Seq((50L, 7L), (60L, 7L)).toDF("caption_doc", "cluster_id")
    val keys = CrossModal.captionKeysFromClusters(capOf, clusters,
      "doc_id", "caption_doc", "cluster_id")
    assert(keys.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      === Array((1L, 10L), (2L, 10L), (3L, 30L), (5L, 7L), (6L, 7L)))
    val out = CrossModal.pairContamination(imgPairs, keys, "doc_id", "key")
      .collect()
    // (1,2) same caption doc — benign; (5,6) clustered captions — benign;
    // (1,3) keys 10 vs 30 — the contaminated pair, carrying its hamming
    // and both keys for triage.
    assert(out.length === 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getInt(2),
      out(0).getLong(3), out(0).getLong(4)) === ((1L, 3L, 2, 10L, 30L)))
  }

  test("CrossModal.captionBoilerplate: caption mates over UNRELATED images " +
    "flagged; near-identical images stay benign") {
    val capPairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    // Image 2 is hamming 2 from image 1 (ordinary dup pair — benign);
    // image 3 is hamming 16 away — the boilerplate-caption defect.
    val hashes = Seq(
      (1L, 0L, 0L), (2L, 3L, 0L), (3L, 65535L, 0L))
      .toDF("media_id", "dhash", "vhash")
    val out = CrossModal.captionBoilerplate(capPairs, hashes, "media_id",
      "dhash", "vhash", maxHamming = 7).collect()
    assert(out.length === 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getInt(2))
      === ((1L, 3L, 16)))
  }

  test("probeLshThresholdMultiProbe: strict superset-or-equal of the " +
    "exact-bucket probe on the same table prefix; bad probeTables fails loud") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dir = java.nio.file.Files.createTempDirectory("lsh_mp").toString
    try {
      // targetWidth 8 forces a scaled plane count even on the fixture,
      // so Hamming-1 expansion exercises more than the trivial p=4.
      val planes = Similarity.writeLshIndexAuto(emb, "vec_id", "embedding",
        path = dir, targetWidth = 8)
      val tables = Similarity.lshIndexTables(spark, dir)
      // Perturbed re-uploads: scale ONE coordinate so cosine is high
      // but below 1 — bucket signatures may differ by a few plane
      // signs, exactly the regime multi-probe exists for.
      val q = emb.filter($"vec_id" < 40)
        .select(($"vec_id" + 70000L).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0, x * lit(1.5f)).otherwise(x)).as("embedding"))
      val exact4 = Similarity.probeLshThreshold(spark, dir, q,
        "vec_id", "embedding", threshold = 0.9, numPlanes = planes,
        numTables = tables)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      val multi4 = Similarity.probeLshThresholdMultiProbe(spark, dir, q,
        "vec_id", "embedding", threshold = 0.9, numPlanes = planes,
        numTables = tables, probeTables = tables)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      // Probing every exact bucket PLUS its neighbors can only add
      // verified pairs — and every added pair passed the same cosine
      // threshold.
      assert(exact4.subsetOf(multi4),
        s"multi-probe lost ${exact4.diff(multi4).size} exact-bucket pairs")
      assert(multi4.size >= exact4.size)
      assertThrows[IllegalArgumentException] {
        Similarity.probeLshThresholdMultiProbe(spark, dir, q,
          "vec_id", "embedding", threshold = 0.9, numPlanes = planes,
          numTables = tables, probeTables = tables + 1)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("auto-sized LSH layout: sidecar roundtrip; threshold probe still " +
    "rejects exact-direction copies at the scaled plane count") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dir = java.nio.file.Files.createTempDirectory("lsh_auto").toString
    try {
      // targetWidth 8 forces MORE planes than the legacy 4 even on the
      // small fixture, exercising the scaled posture end to end.
      val planes = Similarity.writeLshIndexAuto(emb, "vec_id", "embedding",
        path = dir, targetWidth = 8)
      assert(planes === Similarity.lshPlanesAuto(emb.count(), 8))
      assert(planes > 4)
      assert(Similarity.lshIndexPlanes(spark, dir) === planes)
      // Default tables = the recall-compensated lookup for the chosen
      // plane count (round-17), persisted in the sidecar.
      assert(Similarity.lshIndexTables(spark, dir) ===
        Similarity.lshTablesAuto(planes))
      // Scaled copies point in EXACTLY the corpus direction: identical
      // bucket in every table at ANY plane count, cosine exactly 1 —
      // the membership hit is plane-count-invariant by construction.
      val scaled = emb.filter($"vec_id" < 20)
        .select(($"vec_id" + 90000L).as("vec_id"),
          transform($"embedding", x => x * lit(3.0f)).as("embedding"))
      val hits = Similarity.probeLshThreshold(spark, dir, scaled,
        "vec_id", "embedding", 0.95, planes,
        Similarity.lshIndexTables(spark, dir))
        .select("query_id").distinct().count()
      assert(hits === 20L, s"scaled copies must all hit, got $hits")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("indexed LSH probe: identical rows to lshTopK, partition-pruned scan") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("lsh_index").toString
    try {
      Similarity.writeLshIndex(emb, "vec_id", "embedding", 4, 4, dir)
      val probed = Similarity.lshTopKFromIndex(spark, dir, q,
        "vec_id", "embedding", 5, 4, 4)
      val direct = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 4, 4)
      assert(probed.collect().toSet === direct.collect().toSet)
      // The index scan must carry a dynamic partition-pruning filter on
      // (band, bkt) — the probe reads matching bucket dirs only.
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no partition pruning on the index scan:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("quantizeInt8: symmetric codes, extremes hit ±127, half-away rounding") {
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f)), (1L, Array(0.25f, 0.125f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    // gmax = 1.0: round(-63.5) must round AWAY from zero (engine parity)
    assert(rows(0).getSeq[Int](1) === Seq(127, -64))
    assert(rows(1).getSeq[Int](1) === Seq(32, 16)) // 31.75 -> 32, 15.875 -> 16
  }

  test("sq8TopK: near-brute recall, integer-dot codegen, heap-agg ranking") {
    val emb = spark.read.parquet(sf("embeddings"))
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.sq8TopK(emb, "vec_id", "embedding", $"vec_id" < 5, 5)
    val rows = sq8.select("query_id", "cand_id").as[(Long, Long)].collect()
    assert(rows.length === 25)
    val recall = rows.toSet.intersect(brute).size
    assert(recall >= 18, s"SQ8 recall $recall/25 below floor")
    val plan = sq8.queryExecution.executedPlan.toString()
    assert(plan.contains("graft_dot_int"), s"integer dot not planned:\n$plan")
    assert(plan.contains("graft_top_k") && !plan.contains("row_number"),
      s"ranking is not the heap aggregate:\n$plan")
  }

  test("sq8RerankTopK: re-rank recovers brute rows the raw SQ8 pass missed") {
    val emb = spark.read.parquet(sf("embeddings"))
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").as[(Long, Long)].collect()
        .toSet.intersect(brute).size
    val raw = recall(
      Similarity.sq8TopK(emb, "vec_id", "embedding", $"vec_id" < 5, 5))
    val rer = recall(Similarity.sq8RerankTopK(
      emb, "vec_id", "embedding", $"vec_id" < 5, 5, oversample = 4))
    assert(rer >= raw, s"re-rank recall $rer below raw SQ8 $raw")
    assert(rer >= 23, s"re-rank recall $rer/25 below floor")
  }

  test("centroidClassify: nearest class centroid wins; mislabel flagged") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.1f, 0.9f), 1),
      (4L, Array(1.0f, 0.0f), 1)) // mislabeled: sits on label 0's axis
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidClassify(vecs, "vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
    assert(out.map(_.getInt(2)) === Array(0, 0, 1, 1, 0))
    assert(out.map(_.getInt(3)) === Array(1, 1, 1, 1, 0))
  }

  test("minMaxScaleDims maps each dim to [0,1]; constant dims to 0; " +
      "partitioning-invariant") {
    val df = Seq(
      (1L, Seq(0.0f, 5.0f, 7.0f)),
      (2L, Seq(10.0f, 5.0f, 3.0f)),
      (3L, Seq(4.0f, 5.0f, 11.0f))).toDF("vec_id", "embedding")
    val out = Similarity.minMaxScaleDims(df, "vec_id", "embedding")
    val m = out.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 0)) === 0.0 && m((2L, 0)) === 1.0 && m((3L, 0)) === 0.4)
    assert(Seq(1L, 2L, 3L).forall(id => m((id, 1)) === 0.0)) // constant dim
    assert(m((2L, 2)) === 0.0 && m((3L, 2)) === 1.0 && m((1L, 2)) === 0.5)
    assert(m.values.forall(v => v >= 0.0 && v <= 1.0))
    val re = Similarity.minMaxScaleDims(df.repartition(5), "vec_id", "embedding")
    assert(re.exceptAll(out).count() === 0 && out.exceptAll(re).count() === 0)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("stripBoilerplate removes over-share lines per group, keeps order") {
    // Group g: "nav" in 3/3 docs (share 1.0 -> stripped), "rare" in 1/3
    // (kept), bodies unique (kept). Doc 3 is ALL boilerplate -> empty.
    // Doc 1 repeats "nav" twice; within-doc repetition counts once
    // toward the share but BOTH copies are stripped.
    val df = Seq(
      (1L, "g", "nav\nbody one\nnav"),
      (2L, "g", "nav\nbody two\nrare"),
      (3L, "g", "nav"),
      (4L, "h", "nav")) // different group: its own 1/1 share -> stripped
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.stripBoilerplate(df, "doc_id", "text", "source", 0.5)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 1L, "body one")))
    assert(out(1) === ((2L, 2L, "body two\nrare")))
    assert(out(2) === ((3L, 0L, "")))
    assert(out(3) === ((4L, 0L, "")))
    // Share exactly AT the threshold is kept (> not >=): 1 of 2 docs.
    val half = Seq((1L, "g", "x\na"), (2L, "g", "x\nb"), (3L, "g", "c"),
      (4L, "g", "d")).toDF("doc_id", "source", "text")
    val kept = TextAnalysis.stripBoilerplate(half, "doc_id", "text", "source", 0.5)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(kept(0)._3 === "x\na") // x share 2/4 = 0.5, not > 0.5
  }

  test("zscoreScaleDims: exact moments, constant dims to 0, partition-invariant") {
    // dim0 constant -> z=0; dim1 {2,4}: mean 3, var 1 -> z = -1, +1.
    val df = Seq((1L, Seq(0f, 2f)), (2L, Seq(0f, 4f))).toDF("vec_id", "embedding")
    val out = Similarity.zscoreScaleDims(df, "vec_id", "embedding")
      .as[(Long, Int, Double)].collect().toSet
    assert(out === Set((1L, 0, 0.0), (2L, 0, 0.0), (1L, 1, -1.0), (2L, 1, 1.0)))
    // The decimal-pinned sums make the values partitioning-invariant
    // BIT-for-bit (a plain double sum would drift with partition order).
    val emb = spark.read.parquet(sf("embeddings"))
    val a = Similarity.zscoreScaleDims(emb, "vec_id", "embedding").collect().toSet
    val b = Similarity.zscoreScaleDims(emb.repartition(13), "vec_id", "embedding")
      .collect().toSet
    assert(a === b)
    // NaN and out-of-range components fail loud — both would otherwise
    // fall into the silent non-ANSI overflow-to-NULL the guard exists for.
    // (SparkRuntimeException surfaces directly from the eager pin, not
    // wrapped in a job-level SparkException — intercept broadly.)
    for (bad <- Seq(Double.NaN.toFloat, 2e12f)) {
      val e = intercept[Exception] {
        Similarity.zscoreScaleDims(
          Seq((1L, Seq(0f, bad))).toDF("vec_id", "embedding"),
          "vec_id", "embedding").collect()
      }
      assert(messagesOf(e).exists(_.contains("zscoreScaleDims")),
        s"wrong failure: ${messagesOf(e)}")
    }
  }

  private def messagesOf(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      String.valueOf(x.getMessage) +: messagesOf(x.getCause))

  test("ngramNovelty: share of shingles no other document contains") {
    // 3-shingles: d1 {a b c, b c d}, d2 {a b c, b c e}, d3 {x y z, y z w}
    // -> "a b c" has df 2; every other shingle df 1.
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 2L, 1L, 0.5)))
    assert(out(1) === ((2L, 2L, 1L, 0.5)))
    assert(out(2) === ((3L, 2L, 2L, 1.0)))
    // A doc shorter than the shingle width contributes its whole text as
    // one gram (the wordShingles fallback) and still gets a row.
    val short = Seq((1L, "ab"), (2L, "ab")).toDF("doc_id", "text")
    val so = TextAnalysis.ngramNovelty(short, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
    assert(so.forall(r => r._2 === 1L && r._4 === 0.0)) // shared -> df 2
  }

  test("tokenCounts: whitespace vs BPE-ish pre-tokenizer pieces") {
    val df = Seq((1L, "Hello world, it's 2024!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df, "doc_id", "text").head()
    assert(r.getLong(1) === 4) // hello | world, | it's | 2024!
    // hello, world, ',', it, ''', s, 2024, '!'
    assert(r.getLong(2) === 8)
  }

  test("fingerprint is order-sensitive; prefix_fp ignores the tail") {
    val df = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t u v"),
      (2L, "b a c d e f g h i j k l m n o p q r s t u v"),  // swap head
      (3L, "a b c d e f g h i j k l m n o p DIFFERENT TAIL HERE x y z"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprints(df, "doc_id", "text", 16)
      .orderBy("doc_id").collect()
    assert(fps(0).getLong(1) !== fps(1).getLong(1)) // full fp differs on swap
    assert(fps(0).getLong(2) !== fps(1).getLong(2)) // prefix too (head swap)
    assert(fps(0).getLong(2) === fps(2).getLong(2)) // same 16-token prefix
    assert(fps(0).getLong(1) !== fps(2).getLong(1)) // but different full fp
  }

  test("langId picks the language whose markers dominate") {
    val df = Seq(
      (1L, "der Hund und die Katze ist nicht hier"),
      (2L, "the cat and the dog is in the house"),
      (3L, "el perro y la casa de los gatos"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.langId(col("text"))
    val r = df.select(col("doc_id"), out.as("lang")).orderBy("doc_id")
      .as[(Long, String)].collect()
    assert(r === Array((1L, "de"), (2L, "en"), (3L, "es")))
  }

  test("redactPii scrubs email/ip/phone with typed tokens and counts") {
    val df = Seq(
      (1L, "reach me at bob@x.io or 192.168.0.1 or +1 (555) 123-4567 ok"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getString(1) === "reach me at <EMAIL> or <IP> or <PHONE> ok")
    assert((r1.getLong(2), r1.getLong(3), r1.getLong(4)) === ((1L, 1L, 1L)))
    val r2 = out(1)
    assert(r2.getString(1) === "no pii here at all")
    assert((r2.getLong(2), r2.getLong(3), r2.getLong(4)) === ((0L, 0L, 0L)))
  }

  test("repetitionSignals: degenerate repetition scores 1.0, prose near 1/n") {
    val df = Seq((1L, "spam spam spam spam"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 3L)            // 3 bigrams, all "spam spam"
    assert(out(0).getLong(2) === 3L)
    assert(out(0).getDouble(3) === 1.0)
    assert(out(1).getLong(1) === 3L)            // all distinct bigrams
    assert(out(1).getLong(2) === 1L)
    assert(out(1).getDouble(3) === 1.0 / 3.0)
  }

  test("qualityGate keeps exactly the at-or-above-quantile half") {
    val docs = spark.read.parquet(sf("documents"))
    val kept = TextAnalysis.qualityGate(docs, "doc_id", "text", 0.5)
    val total = docs.count()
    val k = kept.count()
    // Median gate: at least half survive (>= threshold), not far more
    // (score ties can push it slightly past half).
    assert(k >= total / 2 && k <= total * 6 / 10, s"kept $k of $total")
    // Every kept doc scores >= every dropped doc's max... i.e. the kept
    // minimum is the threshold: verify against a driver-side recompute.
    val scores = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .collect().map(_.getDouble(1)).sorted
    val keptMin = kept.agg(org.apache.spark.sql.functions.min("quality"))
      .head().getDouble(0)
    assert(scores.count(_ >= keptMin) === k)
  }

  test("quality score is bounded in [0, 1]") {
    val docs = spark.read.parquet(sf("documents"))
    val bounds = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .agg(min("quality"), max("quality")).head()
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
  }

  test("unigramSurprisal scores rare tokens high, in exact micro-nats") {
    // Corpus: "a" x3, "b" x1 -> total 4. surprisal(a) = ln(4/3),
    // surprisal(b) = ln(4). Doc 1 = [a, a], doc 2 = [a, b].
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def unats(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    val ua = unats(math.log(4.0 / 3.0)); val ub = unats(math.log(4.0))
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L, 2 * ua), (2L, 2L, ua + ub)))
    assert(out(0).getDouble(3) < out(1).getDouble(3)) // rare token scores up
  }

  test("bigramSurprisal: conditional micro-nats, short docs drop") {
    // Corpus bigrams: doc1 "a b a c" -> [a b, b a, a c]; doc2 "a b" ->
    // [a b]; doc3 "x" -> none. c_start(a)=3, c_start(b)=1;
    // c12(a b)=2, c12(b a)=1, c12(a c)=1. So surprisal(a b)=ln(3/2),
    // (b a)=ln(1/1)=0, (a c)=ln(3/1).
    val df = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)) === Array(1L, 2L)) // doc 3: no bigrams
    val s_ab = math.floor(math.log(3.0 / 2.0) * 1e6 + 0.5).toLong
    val s_ba = 0L
    val s_ac = math.floor(math.log(3.0) * 1e6 + 0.5).toLong
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getLong(2) === s_ab + s_ba + s_ac)
    assert(out(1).getLong(1) === 1L && out(1).getLong(2) === s_ab)
  }

  test("knBigramSurprisal matches a plain-Scala Kneser-Ney reference; " +
    "per-context probabilities are properly normalized") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b c c a"), (3L, "b c a a b"),
      (4L, "x"))
    val bgs = docs.flatMap { case (id, t) =>
      t.split(" ").toSeq.sliding(2).filter(_.size == 2)
        .map(p => (id, (p(0), p(1)))).toSeq
    }
    val types = bgs.map(_._2).distinct
    val c12 = bgs.groupBy(_._2).map { case (k, v) => k -> v.size.toDouble }
    val c1 = bgs.groupBy(_._2._1).map { case (k, v) => k -> v.size.toDouble }
    val nfw = types.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val ncw = types.groupBy(_._2).map { case (k, v) => k -> v.size.toDouble }
    val nbt = types.size.toDouble
    def p(b: (String, String)): Double =
      (math.max(c12(b) - 0.75, 0.0) + ((0.75 * nfw(b._1)) * (ncw(b._2) / nbt))) / c1(b._1)
    def u(b: (String, String)): Long =
      math.floor(-math.log(p(b)) * 1e6 + 0.5).toLong
    val expected = bgs.groupBy(_._1).map { case (id, v) =>
      id -> ((v.size.toLong, v.map(x => u(x._2)).sum))
    }
    val out = TextAnalysis.knBigramSurprisal(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === expected) // doc 4 (no bigrams) absent from both
    // KN sanity: the smoothed distribution sums to 1 over the vocabulary
    // for every observed context (discount mass exactly redistributed).
    val vocab = docs.flatMap(_._2.split(" ")).distinct
    for (w1 <- nfw.keys) {
      val total = vocab.map { w2 =>
        (math.max(c12.getOrElse((w1, w2), 0.0) - 0.75, 0.0) +
          ((0.75 * nfw(w1)) * (ncw.getOrElse(w2, 0.0) / nbt))) / c1(w1)
      }.sum
      assert(math.abs(total - 1.0) < 1e-12, s"context $w1 sums to $total")
    }
  }

  test("oovRate counts tokens outside the deterministic top-k vocab") {
    val docs = Seq(
      (1L, "a a b"), (2L, "a rare1 rare2")).toDF("doc_id", "text")
    // Counts: a:3, b:1, rare1:1, rare2:1 -> top-2 by (n desc, token asc)
    // = [a, b]; doc 2's rare1/rare2 are OOV.
    val out = TextAnalysis.oovRate(docs, "doc_id", "text", vocabK = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array((1L, 3L, 0L, 0.0), (2L, 3L, 2L, 2.0 / 3)))
  }

  test("winnowFingerprints: shared >= w+k-1 token run shares a fingerprint") {
    // Docs 1 and 2 share a 6-token run (= window 4 + k 3 - 1): the
    // winnowing guarantee says at least one selected fingerprint matches.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique1 unique2"),
      (2L, "other words alpha beta gamma delta epsilon zeta"),
      (3L, "totally disjoint vocabulary in this document here"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 3, 4)
    val byDoc = fp.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fp")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // Density: selection keeps well under the full gram index.
    val nGrams = 6 + 6 + 5
    assert(fp.count() < nGrams)
    // window = 1 degenerates to the full distinct gram-hash index.
    val full = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 3, 1)
    assert(full.count() === nGrams)
  }

  test("tfCosinePairs computes exact integer-backed cosine with df cap") {
    val docs = Seq(
      (1L, "a b a common"), (2L, "a b common"), (3L, "z z z common"))
      .toDF("doc_id", "text")
    // cap 2: "common" (df 3) is dropped; tf vectors d1 {a:2,b:1} nsq 5,
    // d2 {a:1,b:1} nsq 2, dot 3 -> cos 3/sqrt(10); d3 disjoint.
    val out = TextAnalysis.tfCosinePairs(docs, "doc_id", "text",
      threshold = 0.5, maxTokenDf = 2).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    assert(r.getDouble(2) === 3.0 / math.sqrt(10.0))
    // Without the cap, "common" links doc 3 to both (below threshold).
    val all = TextAnalysis.tfCosinePairs(docs, "doc_id", "text",
      threshold = 0.0).collect()
    assert(all.length === 3)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("extractFeatures: REAL image decode + deterministic stub for video") {
    implicit val s = spark
    val df = Seq((2L, "video", "a longer payload body")).toDF("doc_id", "modality", "text")
    val media = Multimodal.payloadFromText(df, "doc_id", "text", "modality")
    assert(media.schema("payload").dataType.typeName === "binary")
    val video = Multimodal.extractFeatures(Multimodal.asMediaDataset(media))
      .collect()(0)
    assert(video.modality === "video" && video.n_frames === (1 + 21 % 30))
    assert(video.byte_checksum ===
      "a longer payload body".getBytes("UTF-8").map(_ & 0xFF).sum)
    // Real decode: a 12x7 PNG fixture comes back with its TRUE decoded
    // dimensions (PNG byte length has no simple relation to them).
    val png = Multimodal.syntheticPng(5L, 12, 7)
    val img = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(5L, "image", png)).toDS()).collect()(0)
    assert(img.width === 12 && img.height === 7 && img.channels === 3)
    assert(img.n_bytes === png.length.toLong)
  }

  test("decodeImageHash: dHash matches independent pixel arithmetic and " +
    "is invariant to a uniform brightness shift") {
    // Expected hash computed HERE from the raw pixel field — the decode
    // path must reproduce it through a real PNG decode.
    val (w, h) = (18, 14)
    def pixel(x: Int, y: Int): Int = {
      val v = 7L * 2654435761L + x * 40503L + y * 70423L
      (((v ^ (v >> 13)) & 0xFFFFFFL)).toInt
    }
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val sums = Array.ofDim[Long](7, 9)
    val counts = Array.ofDim[Long](7, 9)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = pixel(x, y)
      val luma = ((rgb >> 16) & 0xFF) * 299L + ((rgb >> 8) & 0xFF) * 587L +
        (rgb & 0xFF) * 114L
      sums(y * 7 / h)(x * 9 / w) += luma
      counts(y * 7 / h)(x * 9 / w) += 1
    }
    var expected = 0L
    for (cy <- 0 until 7; cx <- 0 until 8)
      if (sums(cy)(cx + 1) / counts(cy)(cx + 1) > sums(cy)(cx) / counts(cy)(cx))
        expected |= 1L << (cy * 8 + cx)
    val got = Multimodal.decodeImageHash(
      Multimodal.MediaRecord(7L, "image", png(pixel)))
    assert(got.width === w && got.height === h)
    assert(got.dhash === expected)
    // A uniformly brightened copy (no channel wraps: +16 on each byte
    // after clamping the base to <= 0xEF) must hash IDENTICALLY — the
    // shift-invariance that makes dHash a near-dup signature.
    def clamped(x: Int, y: Int): Int = {
      val p = pixel(x, y)
      (math.min((p >> 16) & 0xFF, 0xEF) << 16) |
        (math.min((p >> 8) & 0xFF, 0xEF) << 8) | math.min(p & 0xFF, 0xEF)
    }
    val base = Multimodal.decodeImageHash(
      Multimodal.MediaRecord(8L, "image", png(clamped)))
    val bright = Multimodal.decodeImageHash(
      Multimodal.MediaRecord(9L, "image", png((x, y) =>
        clamped(x, y) + 0x101010)))
    assert(base.dhash === bright.dhash)
  }

  test("decodeImageHash rejects images smaller than the 9x7 grid") {
    val img = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeImageHash(
        Multimodal.MediaRecord(1L, "image", bos.toByteArray))
    }
    assert(e.getMessage.contains("dHash grid"))
  }

  test("syntheticImageGroups: group members land within a few dHash bits, " +
    "distinct groups far apart") {
    implicit val s = spark
    val df = (0L until 16L).toDF("doc_id")
    val hashes = Multimodal.extractImageHashes(
      Multimodal.syntheticImageGroups(df, "doc_id")).collect()
      .map(r => r.media_id -> r.dhash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // Within group 0 (ids 0-3): brightness-nudged near-copies.
    for (m <- 1L to 3L)
      assert(ham(hashes(0L), hashes(m)) <= 7,
        s"member $m drifted ${ham(hashes(0L), hashes(m))} bits from its base")
    // Across groups: different pixel fields, ~uniform hashes.
    assert(ham(hashes(0L), hashes(4L)) > 7)
  }

  test("decodeImage reads a JVM-encoded JPEG's true dimensions") {
    val buf = new java.awt.image.BufferedImage(
      9, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(buf, "jpg", bos)
    val f = Multimodal.decodeImage(
      Multimodal.MediaRecord(1L, "image", bos.toByteArray))
    assert(f.width === 9 && f.height === 4 && f.channels === 3)
  }

  test("an undecodable image payload fails loud, not as fake dimensions") {
    implicit val s = spark
    val junk = Seq(Multimodal.MediaRecord(7L, "image", "not an image".getBytes("UTF-8"))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(junk).collect()
    }
    assert(e.getCause.getMessage.contains("undecodable image payload"))
  }

  test("syntheticMedia: even ids are decodable PNGs with id-derived dims") {
    implicit val s = spark
    val df = Seq((4L, "some text"), (9L, "other text")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(df, "doc_id", "text")).collect().sortBy(_.media_id)
    assert(feats(0).modality === "image")
    assert(feats(0).width === (8 + 4 % 32) && feats(0).height === (8 + (4 / 3) % 32))
    assert(feats(1).modality === "video" && feats(1).n_bytes === 10L)
  }

  test("decodeAudio recovers the true WAV rate/channels/frames from the header") {
    // 16 kHz stereo, 441 frames — the triple lives only in the RIFF
    // header, so recovering it certifies a real container parse.
    val wav = Multimodal.syntheticWav(3L, sampleRate = 16000, channels = 2,
      nFrames = 441)
    val a = Multimodal.decodeAudio(Multimodal.MediaRecord(3L, "audio", wav))
    assert(a.sample_rate === 16000 && a.channels === 2)
    assert(a.bits_per_sample === 16 && a.n_frames === 441L)
    assert(a.duration_ms === 441L * 1000L / 16000L)
    assert(a.n_bytes === wav.length.toLong)
  }

  test("extractAudioFeatures: batched kernel over synthetic id-derived WAVs") {
    implicit val s = spark
    val df = Seq(5L, 10L).toDF("doc_id")
    val feats = Multimodal.extractAudioFeatures(
      Multimodal.syntheticAudio(df, "doc_id")).collect().sortBy(_.media_id)
    // id 5: rate 8000*(1+5%3)=24000, ch 1+5%2=2, frames 200+5%300=205
    assert(feats(0).sample_rate === 24000 && feats(0).channels === 2
      && feats(0).n_frames === 205L)
    // id 10: rate 8000*(1+10%3)=16000, ch 1, frames 210
    assert(feats(1).sample_rate === 16000 && feats(1).channels === 1
      && feats(1).n_frames === 210L)
  }

  test("decodeAudioContent folds exact integer aggregates over real samples") {
    // id 7: rate 16000, 2 channels, 207 frames; samples are
    // s(f, c) = (7*31 + f*7 + c*13) % 65536 - 32768 — recompute directly.
    val wav = Multimodal.syntheticWav(7L, 16000, 2, 207)
    val a = Multimodal.decodeAudioContent(
      Multimodal.MediaRecord(7L, "audio", wav))
    val ref = for (f <- 0 until 207; c <- 0 until 2)
      yield ((7L * 31 + f * 7 + c * 13) % 65536 - 32768).toInt
    assert(a.channels === 2 && a.n_frames === 207L)
    assert(a.sum_sq === ref.map(s => s.toLong * s).sum)
    assert(a.sum_abs === ref.map(s => math.abs(s).toLong).sum)
    assert(a.peak_abs === ref.map(math.abs).max)
    // A truncated payload fails loud, not as silently-low energy.
    val cut = java.util.Arrays.copyOf(wav, wav.length - 64)
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeAudioContent(Multimodal.MediaRecord(7L, "audio", cut))
    }
    assert(e.getMessage.contains("truncated audio payload"))
  }

  test("decodeAudioHashWide reproduces every DESIGNED fingerprint bit") {
    implicit val s = spark
    val df = (0L until 200L).toDF("doc_id")
    val got = Multimodal.extractAudioHashesWide(
      Multimodal.syntheticAudioGroups(df, "doc_id")).collect()
      .map(h => h.media_id -> h).toMap
    for (id <- 0L until 200L) {
      val g = id / 4
      val m = (id % 4).toInt
      val gs = TextOps.hash60Scala(s"aud:$g")
      val gs2 = TextOps.hash60Scala(s"audp:$g")
      // Envelope bit t IS the member-flipped amplitude salt bit; flux
      // bit t is the designed period comparison p[t+1] < p[t].
      var eh = 0L
      for (t <- 0 until 56) {
        val bit = ((gs >> t) & 1L) == 1L
        val flip = (t == 13 || t == 30 || t == 47) &&
          (t - 13) / 17 < math.min(m, 3)
        if (bit ^ flip) eh |= 1L << t
      }
      var rh = 0L
      for (t <- 0 until 54)
        if (((gs2 >> (t + 1)) & 1L) == 1L && ((gs2 >> t) & 1L) == 0L)
          rh |= 1L << t
      val h = got(id)
      assert(h.ehash === eh, s"ehash mismatch for id=$id")
      assert(h.rhash === rh, s"rhash mismatch for id=$id")
      assert(h.sample_rate === 8000 * (1 + g % 3).toInt)
      assert(h.n_frames === 3648L)
    }
  }

  test("audio fingerprint: designed intra-group hamming, flux word " +
    "member-invariant, distinct groups far apart") {
    implicit val s = spark
    val df = (0L until 16L).toDF("doc_id")
    val got = Multimodal.extractAudioHashesWide(
      Multimodal.syntheticAudioGroups(df, "doc_id")).collect()
      .map(h => h.media_id -> h).toMap
    def ham(a: Multimodal.AudioHashWide, b: Multimodal.AudioHashWide) =
      java.lang.Long.bitCount(a.ehash ^ b.ehash) +
        java.lang.Long.bitCount(a.rhash ^ b.rhash)
    // Members of group 0 (ids 0-3): EXACT designed distances — member m
    // flips the first min(m,3) of the three designed step positions, and
    // amplitude-step flips are local to their comparison bit.
    for (a <- 0L to 3L; b <- 0L until a) {
      assert(ham(got(a), got(b)) === (a - b).toInt,
        s"pair ($b, $a) not at designed hamming ${a - b}")
      assert(got(a).rhash === got(b).rhash,
        "member perturbation must not touch the flux word")
    }
    // Distinct groups: independent md5 salts, ~uniform 110-bit words.
    assert(ham(got(0L), got(4L)) > 7)
    assert(ham(got(0L), got(8L)) > 7)
  }

  test("decodeAudioHashWide fails loud on truncated and too-short payloads") {
    val wav = Multimodal.syntheticWav(3L, 8000, 1, 400)
    val cut = java.util.Arrays.copyOf(wav, wav.length - 32)
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.decodeAudioHashWide(Multimodal.MediaRecord(3L, "audio", cut))
    }
    assert(e1.getMessage.contains("truncated audio payload"))
    // 100 samples < 2 * 57: too short for the 57-segment fingerprint —
    // a hash over near-empty segments would be all-zero noise, not a
    // signature; refuse instead.
    val short = Multimodal.syntheticWav(3L, 8000, 1, 100)
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.decodeAudioHashWide(Multimodal.MediaRecord(3L, "audio", short))
    }
    assert(e2.getMessage.contains("57-segment fingerprint"))
  }

  test("decodeAudioHashWide: PER-CHANNEL temporal flux — a phase-inverted " +
    "stereo channel cannot change the fingerprint; mono kernel unchanged") {
    // Encode raw PCM16 LE stereo: frame f carries (L, R) = (x_f, sign·x_f)
    // with x_f a segment-varying designed ramp. Per-channel flux folds
    // |x_{f+1} − x_f| identically for both channels under either sign
    // (|−a − (−b)| = |a − b|), and |±x| keeps E identical too — so the
    // phase-inverted clip MUST fingerprint identically to the in-phase
    // one. The pre-fix interleaved diff saw |R_f − L_f| = 2|x_f| jumps
    // in the inverted clip and 0 in the in-phase one: different D,
    // different rhash — the ADVICE-flagged channel-interleave defect.
    def stereo(sign: Int): Multimodal.MediaRecord = {
      val nFrames = 400
      val data = new Array[Byte](nFrames * 2 * 2)
      var f = 0
      while (f < nFrames) {
        // Varying amplitude path (period-7 sawtooth scaled by a slow
        // ramp) so E and per-channel D genuinely differ across the 57
        // segments — a constant signal would make both hashes 0 and
        // the test vacuous.
        val x = ((f % 7) * (100 + f)) % 4000
        val l = x.toShort
        val r = (sign * x).toShort
        data(f * 4) = (l & 0xFF).toByte
        data(f * 4 + 1) = ((l >> 8) & 0xFF).toByte
        data(f * 4 + 2) = (r & 0xFF).toByte
        data(f * 4 + 3) = ((r >> 8) & 0xFF).toByte
        f += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      Multimodal.MediaRecord(1L, "audio", bos.toByteArray)
    }
    val inPhase = Multimodal.decodeAudioHashWide(stereo(1))
    val inverted = Multimodal.decodeAudioHashWide(stereo(-1))
    assert(inPhase.ehash !== 0L) // non-degenerate fixture
    assert(inverted.ehash === inPhase.ehash)
    assert(inverted.rhash === inPhase.rhash)
    // Mono parity guard: the ch=1 path must stay bit-identical to the
    // HISTORICAL kernel (the designed E/D-chain SQL oracles replay it)
    // — recompute the legacy prev-sample walk symbolically from
    // syntheticWav's sample formula and compare hash words.
    val mono = Multimodal.decodeAudioHashWide(
      Multimodal.MediaRecord(5L, "audio", Multimodal.syntheticWav(5L, 8000, 1, 400)))
    def srcS(f: Int) = ((5L * 31 + f * 7) % 65536 - 32768).toInt
    val T = Multimodal.AudioFpSegments
    val eRef = new Array[Long](T); val dRef = new Array[Long](T)
    for (t <- 0 until T) {
      val lo = (t.toLong * 400 / T).toInt; val hi = ((t + 1).toLong * 400 / T).toInt
      for (i <- lo until hi) {
        eRef(t) += math.abs(srcS(i)).toLong
        if (i > lo) dRef(t) += math.abs(srcS(i) - srcS(i - 1)).toLong
      }
    }
    var ehRef = 0L
    for (t <- 0 until T - 1) if (eRef(t + 1) > eRef(t)) ehRef |= 1L << t
    var rhRef = 0L
    for (t <- 0 until T - 3)
      if (BigInt(dRef(t + 1)) * BigInt(eRef(t)) >
          BigInt(dRef(t)) * BigInt(eRef(t + 1))) rhRef |= 1L << t
    assert(mono.ehash === ehRef && mono.rhash === rhRef)
  }

  test("resampleAudio linear-interpolates PCM onto the target grid exactly") {
    // id 9: rate 8000, 2ch, 209 frames. Upsample to 12000: the j-th
    // output frame samples source position j*8000/12000 = j*2/3 —
    // recompute the interpolation by hand over the known samples.
    val rec = Multimodal.MediaRecord(9L, "audio",
      Multimodal.syntheticWav(9L, 8000, 2, 209))
    def src(f: Int, c: Int) = ((9L * 31 + f * 7 + c * 13) % 65536 - 32768).toInt
    val out = Multimodal.resampleAudio(rec, 12000)
    val a = Multimodal.decodeAudio(out)
    val nOut = ((209 - 1) * 12000L / 8000L).toInt + 1
    assert(a.sample_rate === 12000 && a.channels === 2 && a.n_frames === nOut.toLong)
    // Re-decode the content and compare against the symbolic replay.
    val got = Multimodal.decodeAudioContent(out)
    val ref = for (j <- 0 until nOut; c <- 0 until 2) yield {
      val posNum = j.toLong * 8000
      val p0 = (posNum / 12000).toInt
      val frac = (posNum % 12000).toInt
      val s0 = src(p0, c)
      val s1 = if (p0 + 1 < 209) src(p0 + 1, c) else s0
      s0 + (((s1 - s0).toLong * frac) / 12000).toInt
    }
    assert(got.sum_sq === ref.map(s => s.toLong * s).sum)
    assert(got.sum_abs === ref.map(s => math.abs(s).toLong).sum)
    assert(got.peak_abs === ref.map(math.abs).max)
    // Downsampling halves the frame count (24000 -> 12000).
    val down = Multimodal.decodeAudio(Multimodal.resampleAudio(
      Multimodal.MediaRecord(2L, "audio",
        Multimodal.syntheticWav(2L, 24000, 1, 300)), 12000))
    assert(down.sample_rate === 12000 && down.n_frames === (299 * 12000L / 24000L) + 1)
  }

  test("decodeBatch routes audio through the real decoder (rate as width)") {
    val wav = Multimodal.syntheticWav(1L, 8000, 1, 200)
    val f = Multimodal.decodeBatch(
      Seq(Multimodal.MediaRecord(1L, "audio", wav))).head
    assert(f.width === 8000 && f.height === 16
      && f.channels === 1 && f.n_frames === 200)
  }

  test("an undecodable audio payload fails loud, not as fake properties") {
    implicit val s = spark
    val junk = Seq(Multimodal.MediaRecord(8L, "audio",
      "not audio at all".getBytes("UTF-8"))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.extractAudioFeatures(junk).collect()
    }
    assert(e.getCause.getMessage.contains("undecodable audio payload"))
  }

  test("syntheticAvi lays fields out at the published AVI spec offsets") {
    // Pins the WRITER to the spec independently of the parser, so a
    // matched writer/parser offset bug cannot hide behind a round-trip:
    // RIFF(12) + LIST-hdr(8) + 'hdrl'(4) puts avih data at 32
    // (dwTotalFrames at +16, dwWidth at +32, dwHeight at +36); after
    // avih (56) the strl LIST header lands strh data at 108 (fccType,
    // dwScale at +20, dwRate at +24, dwLength at +32).
    val b = Multimodal.syntheticAvi(width = 320, height = 240,
      fpsRate = 30, fpsScale = 1, nFrames = 75)
    def le(off: Int) = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    def cc(off: Int) = new String(b, off, 4, "US-ASCII")
    assert(cc(0) === "RIFF" && cc(8) === "AVI ")
    assert(le(4) === b.length - 8)
    assert(cc(12) === "LIST" && cc(20) === "hdrl" && cc(24) === "avih")
    assert(le(32 + 16) === 75 && le(32 + 32) === 320 && le(32 + 36) === 240)
    assert(cc(108) === "vids")
    assert(le(108 + 20) === 1 && le(108 + 24) === 30 && le(108 + 32) === 75)
  }

  test("decodeVideoMeta recovers AVI header fields via a real RIFF walk") {
    val avi = Multimodal.syntheticAvi(width = 640, height = 360,
      fpsRate = 30000, fpsScale = 1001, nFrames = 90)
    val v = Multimodal.decodeVideoMeta(Multimodal.MediaRecord(4L, "video", avi))
    assert(v.width === 640 && v.height === 360)
    assert(v.fps_rate === 30000 && v.fps_scale === 1001)
    assert(v.n_frames === 90L)
    assert(v.duration_ms === 90L * 1000L * 1001L / 30000L) // 3003 ms
    assert(v.n_bytes === avi.length.toLong)
    // strf BITMAPINFOHEADER fields (writer defaults: BI_RGB 24bpp);
    // 640*24 bits is already 4-byte aligned, so sizeImage = w*h*3.
    assert(v.bit_count === 24 && v.compression === 0L)
    assert(v.size_image === 640L * 360L * 3L)
    // Non-default pixel format round-trips, with the padded stride:
    // 321px * 4bpp = 1284 bits -> ceil to 41 u32s -> 164-byte rows.
    val avi2 = Multimodal.syntheticAvi(width = 321, height = 10,
      fpsRate = 25, fpsScale = 1, nFrames = 5, bitCount = 4, compression = 2L)
    val v2 = Multimodal.decodeVideoMeta(Multimodal.MediaRecord(5L, "video", avi2))
    assert(v2.bit_count === 4 && v2.compression === 2L)
    assert(v2.size_image === 164L * 10L)
  }

  test("decodeVideoMeta fails loud on junk, truncation, and header disagreement") {
    implicit val s = spark
    def dec(bytes: Array[Byte]) = Multimodal.decodeVideoMeta(
      Multimodal.MediaRecord(1L, "video", bytes))
    assert(intercept[IllegalArgumentException] {
      dec("not an avi at all".getBytes("UTF-8"))
    }.getMessage.contains("not a RIFF/AVI"))
    val avi = Multimodal.syntheticAvi(320, 240, 25, 1, 50)
    assert(intercept[IllegalArgumentException] {
      dec(java.util.Arrays.copyOf(avi, avi.length - 10))
    }.getMessage.contains("truncated container"))
    // Corrupt avih.dwTotalFrames (offset 48): the cross-check against
    // the vids strh.dwLength must refuse, not pick a side silently.
    val bad = avi.clone(); bad(48) = (bad(48) + 1).toByte
    assert(intercept[IllegalArgumentException] {
      dec(bad)
    }.getMessage.contains("disagrees"))
    // Corrupt strf.biWidth (strf data at 172, biWidth at +4): the
    // format-vs-main-header dimension cross-check must refuse too.
    val badStrf = avi.clone(); badStrf(176) = (badStrf(176) + 1).toByte
    assert(intercept[IllegalArgumentException] {
      dec(badStrf)
    }.getMessage.contains("disagree with avih"))
    // Batched kernel path surfaces the same failure through Spark.
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.extractVideoFeatures(
        Seq(Multimodal.MediaRecord(2L, "video", "junk".getBytes)).toDS()).collect()
    }
    assert(e.getCause.getMessage.contains("undecodable video payload"))
  }

  test("decodeVideoFrameHash: first-frame dHash matches independent pixel " +
    "arithmetic through the real DIB layout (stride, bottom-up, BGR)") {
    val (w, h) = (18, 14) // stride = ((18*24+31)/32)*4 = 56 > 18*3: pad live
    def pixel(x: Int, y: Int): (Int, Int, Int) = {
      val v = 7L * 2654435761L + x * 48271L + y * 69621L
      val base = (v ^ (v >> 13)) & 0xFFFFFFL
      (((base >> 16) & 0xFF).toInt, ((base >> 8) & 0xFF).toInt,
        (base & 0xFF).toInt)
    }
    val stride = ((w * 24 + 31) / 32) * 4
    val frame = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = pixel(x, y)
      val off = (h - 1 - y) * stride + x * 3 // bottom-up rows
      frame(off) = bl.toByte; frame(off + 1) = g.toByte
      frame(off + 2) = r.toByte
    }
    val avi = Multimodal.syntheticAvi(w, h, 25, 1, nFrames = 1,
      bitCount = 24, compression = 0L, frames = Seq(frame))
    // Expected hash computed HERE from the raw pixel field — the decode
    // path must reproduce it through a genuine frame-byte walk.
    val sums = Array.ofDim[Long](7, 9)
    val counts = Array.ofDim[Long](7, 9)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = pixel(x, y)
      sums(y * 7 / h)(x * 9 / w) += r * 299L + g * 587L + bl * 114L
      counts(y * 7 / h)(x * 9 / w) += 1
    }
    var expected = 0L
    for (cy <- 0 until 7; cx <- 0 until 8)
      if (sums(cy)(cx + 1) / counts(cy)(cx + 1) > sums(cy)(cx) / counts(cy)(cx))
        expected |= 1L << (cy * 8 + cx)
    val got = Multimodal.decodeVideoFrameHash(
      Multimodal.MediaRecord(7L, "video", avi))
    assert(got.width === w && got.height === h)
    assert(got.dhash === expected)
    // The frame-bearing container still parses at the metadata layer.
    val meta = Multimodal.decodeVideoMeta(
      Multimodal.MediaRecord(7L, "video", avi))
    assert(meta.width === w && meta.n_frames === 1L)
  }

  test("decodeVideoFrameHash fails loud on frameless, non-BI_RGB, and " +
    "size-mismatched payloads") {
    def dec(bytes: Array[Byte]) = Multimodal.decodeVideoFrameHash(
      Multimodal.MediaRecord(1L, "video", bytes))
    // No frame chunk in the movi list (the metadata-only fixture).
    assert(intercept[IllegalArgumentException] {
      dec(Multimodal.syntheticAvi(320, 240, 25, 1, 50))
    }.getMessage.contains("no frame chunk"))
    // A compressed / non-24bpp format cannot be honestly hashed.
    assert(intercept[IllegalArgumentException] {
      dec(Multimodal.syntheticAvi(320, 240, 25, 1, 50, bitCount = 8,
        compression = 1L))
    }.getMessage.contains("BI_RGB"))
    // A frame chunk whose size disagrees with stride x height refuses.
    val stride = ((12 * 24 + 31) / 32) * 4
    assert(intercept[IllegalArgumentException] {
      dec(Multimodal.syntheticAvi(12, 10, 25, 1, 1,
        frames = Seq(new Array[Byte](stride * 10 - 4))))
    }.getMessage.contains("expected"))
    // A strf chunk too short for a BITMAPINFOHEADER must fail typed,
    // not silently read the adjacent container bytes as pixel-format
    // fields: patch the size field after the 'strf' tag down to 16.
    val truncStrf = Multimodal.syntheticAvi(12, 10, 25, 1, 1,
      frames = Seq(new Array[Byte](stride * 10)))
    val strfAt = truncStrf.indices.find(i =>
      truncStrf(i) == 's' && truncStrf(i + 1) == 't' &&
        truncStrf(i + 2) == 'r' && truncStrf(i + 3) == 'f').get
    truncStrf(strfAt + 4) = 16; truncStrf(strfAt + 5) = 0
    truncStrf(strfAt + 6) = 0; truncStrf(strfAt + 7) = 0
    assert(intercept[IllegalArgumentException] { dec(truncStrf) }
      .getMessage.contains("BITMAPINFOHEADER needs 40"))
  }

  test("MJPEG 00dc frames: a real JPEG decode reproduces every designed " +
    "cell comparison; corrupt chunks and size disagreements fail loud") {
    implicit val s = spark
    val ids = (0L until 200L).toDF("doc_id")
    val got = Multimodal.extractVideoFrameHashesWide(
      Multimodal.syntheticVideoGroupsMjpeg(ids, "doc_id")).collect()
    assert(got.length === 200)
    got.foreach { vh =>
      val g = vh.media_id / 4
      def v(cx: Int, cy: Int): Int =
        (TextOps.hash60Scala(s"mj:$g:$cx:$cy") % 5).toInt * 40 +
          20 * ((cx + cy) % 2) + 20
      var dh = 0L
      var vv = 0L
      for (cy <- 0 until 7; cx <- 0 until 8)
        if (v(cx + 1, cy) > v(cx, cy)) dh |= 1L << (cy * 8 + cx)
      for (cx <- 0 until 9; cy <- 0 until 6)
        if (v(cx, cy + 1) > v(cx, cy)) vv |= 1L << (cx * 6 + cy)
      assert(vh.width === 72 && vh.height === 56)
      assert(vh.dhash === dh, s"horizontal drift for id=${vh.media_id}")
      assert(vh.vhash === vv, s"vertical drift for id=${vh.media_id}")
    }
    // Group members are uniform-brightness re-encodes: identical hashes.
    val byId = got.map(h => h.media_id -> ((h.dhash, h.vhash))).toMap
    assert((0L until 200L).forall(id => byId(id) == byId(4 * (id / 4))))
    // A corrupt (truncated) MJPEG frame chunk fails loud, as does a
    // frame whose decoded dimensions disagree with the container header.
    val ok = Multimodal.syntheticVideoGroupsMjpeg(
      Seq(0L).toDF("doc_id"), "doc_id").collect()(0).payload
    val dcAt = ok.indices.find(i => ok(i) == '0' && ok(i + 1) == '0' &&
      ok(i + 2) == 'd' && ok(i + 3) == 'c').get
    val corrupt = ok.clone()
    // Zero out the JPEG payload after its header region: undecodable.
    java.util.Arrays.fill(corrupt, dcAt + 8, corrupt.length, 0.toByte)
    assert(intercept[IllegalArgumentException] {
      Multimodal.decodeVideoFrameHashWide(
        Multimodal.MediaRecord(1L, "video", corrupt))
    }.getMessage.contains("video payload"))
    // Patch the container's header width: the decoded 72x56 JPEG now
    // disagrees with the claimed geometry.
    val lied = ok.clone()
    val strfAt = lied.indices.find(i => lied(i) == 's' && lied(i + 1) == 't' &&
      lied(i + 2) == 'r' && lied(i + 3) == 'f').get
    lied(strfAt + 12) = 64 // biWidth LSB: 72 -> 64
    assert(intercept[IllegalArgumentException] {
      Multimodal.decodeVideoFrameHashWide(
        Multimodal.MediaRecord(1L, "video", lied))
    }.getMessage.contains("disagrees"))
  }

  test("syntheticVideoGroups: group members land within the near-dup " +
    "hamming budget, pairs join via the banded machinery") {
    implicit val s = spark
    val hashes = Multimodal.extractVideoFrameHashes(
      Multimodal.syntheticVideoGroups((0L until 24L).toDF("doc_id"),
        "doc_id")).collect()
    val byG = hashes.groupBy(_.media_id / 4)
    for (g <- byG.values; a <- g; b <- g if a.media_id < b.media_id)
      assert(java.lang.Long.bitCount(a.dhash ^ b.dhash) <= 7,
        s"members ${a.media_id}/${b.media_id} too far apart")
    // The generic banded hamming join recovers every intra-group pair.
    val pairs = graft.llm.Dedup.hammingNearDupPairs(
        Multimodal.extractVideoFrameHashes(
          Multimodal.syntheticVideoGroups((0L until 24L).toDF("doc_id"),
            "doc_id")).toDF(),
        "media_id", "dhash", nBits = 56, maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (g <- byG.values; a <- g; b <- g if a.media_id < b.media_id)
      assert(pairs.contains((a.media_id, b.media_id)),
        s"pair ${a.media_id}/${b.media_id} missed by the banded join")
  }

  test("strided frame hashing recovers first-frame-edited near-dups the " +
    "single-frame hash misses, and degrades to it on 1-frame videos") {
    implicit val s = spark
    val media = Multimodal.syntheticVideoGroupsStrided(
      (0L until 16L).toDF("doc_id"), "doc_id")
    // Frame 0 is member-scrambled: every intra-group FIRST-frame pair
    // is far outside the hamming budget (measured min 19 over the
    // fixture), so single-frame hashing finds none of them.
    val first = Multimodal.extractVideoFrameHashes(media).collect()
      .map(v => v.media_id -> v.dhash).toMap
    for (g <- 0L until 4L; a <- 0L until 4L; b <- (a + 1) until 4L)
      assert(java.lang.Long.bitCount(
        first(g * 4 + a) ^ first(g * 4 + b)) > 7,
        s"first frames of ${g * 4 + a}/${g * 4 + b} unexpectedly close")
    // The strided frame-hash SET recovers every intra-group pair
    // through the shared later frames.
    val pairs = graft.llm.Dedup.hammingNearDupPairsSet(
        Multimodal.extractVideoFrameHashesStrided(media, k = 3).toDF(),
        "media_id", "dhash", nBits = 56, maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (g <- 0L until 4L; a <- 0L until 4L; b <- (a + 1) until 4L)
      assert(pairs.contains((g * 4 + a, g * 4 + b)),
        s"strided set missed pair ${g * 4 + a}/${g * 4 + b}")
    // On the legacy single-frame fixture the strided extractor is the
    // first-frame hash: one row, frame 0, identical signature.
    val legacy = Multimodal.syntheticVideoGroups(
      (0L until 8L).toDF("doc_id"), "doc_id")
    val lf = Multimodal.extractVideoFrameHashes(legacy).collect()
      .map(v => v.media_id -> v.dhash).toMap
    val ls = Multimodal.extractVideoFrameHashesStrided(legacy, 3).collect()
    assert(ls.length === 8)
    assert(ls.forall(v =>
      lf(v.media_id) == v.dhash && v.n_frames == 1 && v.frame_idx == 0))
  }

  test("extractVideoFeatures: batched kernel over synthetic id-derived AVIs") {
    implicit val s = spark
    val df = Seq(6L, 13L).toDF("doc_id")
    val feats = Multimodal.extractVideoFeatures(
      Multimodal.syntheticVideo(df, "doc_id")).collect().sortBy(_.media_id)
    // id 6: w 160+(6%40)*8=208, h 120+(6%30)*8=168, rate 16, scale 1, frames 31
    assert(feats(0).width === 208 && feats(0).height === 168)
    assert(feats(0).fps_rate === 16 && feats(0).fps_scale === 1
      && feats(0).n_frames === 31L)
    // id 13: w 160+13*8=264, h 120+13*8=224, rate 23, scale 2, frames 38
    assert(feats(1).width === 264 && feats(1).height === 224)
    assert(feats(1).fps_rate === 23 && feats(1).fps_scale === 2
      && feats(1).n_frames === 38L)
    assert(feats(1).duration_ms === 38L * 1000L * 2L / 23L)
  }

  test("frameSample slices fixed-stride byte ranges without decoding") {
    val df = Seq((1L, "0123456789ABCDEF")).toDF("id", "s")
      .select($"id", encode($"s", "UTF-8").as("payload"))
    val out = Multimodal.frameSample(df, "payload", frameLen = 4, nFrames = 3)
    val r = out.head()
    assert(new String(r.getAs[Array[Byte]]("frame_0")) === "0123")
    assert(new String(r.getAs[Array[Byte]]("frame_1")) === "4567")
    assert(new String(r.getAs[Array[Byte]]("frame_2")) === "89AB")
  }
}
