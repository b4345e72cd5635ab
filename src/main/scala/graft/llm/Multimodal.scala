package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling.
  *
  * Media payloads travel as opaque `binary` columns next to a typed
  * metadata struct — the layout a 100 TB multimodal corpus actually uses
  * (parquet binary + stats, partitioned by modality/shard, so pruning and
  * predicate pushdown work on metadata without touching payload bytes).
  *
  * IMAGE decode is REAL: `javax.imageio` ships with every stock JVM and
  * reads PNG/JPEG/GIF/BMP, so [[decodeImage]] reports true decoded
  * width/height/channels and fails loud on an undecodable payload.
  * AUDIO decode is REAL too: `javax.sound.sampled.AudioSystem` (also
  * stock-JVM) parses WAV/AIFF/AU containers, so [[decodeAudio]] reports
  * the true sample rate / channel count / frame length from the payload
  * and fails loud on an undecodable one. VIDEO container METADATA is
  * real as well: [[decodeVideoMeta]] is a genuine hand-rolled RIFF/AVI
  * chunk walk (width/height/fps/frame-count recovered from the avih and
  * vids-strh headers — no JVM video API exists, but RIFF is the same
  * container family WAV uses). Only video FRAME-PIXEL extraction has
  * no JVM-builtin codec (and none is installable in this environment),
  * so that kernel remains a clearly-marked DETERMINISTIC STUB (pure
  * arithmetic over the payload bytes). The execution shape around all
  * three — the schema, the batched
  * `mapPartitions` kernel (the Scala analog of `mapInPandas`:
  * iterator-of-batches in, iterator-of-batches out, no per-record codec
  * setup), the partitioning — is identical, so swapping a stub for a
  * native codec touches one function.
  */
object Multimodal {

  // ImageIO defaults to a disk-backed stream cache (a temp file per
  // decode) — pure overhead for in-memory byte-array payloads on
  // executors. Process-wide JVM state, so it is NOT flipped at class
  // load: the lazy val runs once, on the first actual codec call, and
  // only in JVMs that decode/encode media.
  private lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** ITU-R 601 integer luma accessor over a decoded image — the one
    * pixel contract of every dHash kernel. `BufferedImage.getRGB` is a
    * per-call virtual ColorModel path that a 72x56 frame hits ~4k times
    * per cell pass; round-20 measured it at 83 µs/frame, MORE than the
    * 63 µs JPEG decode it follows. For the layout ImageIO's JPEG and
    * PNG readers actually produce (`TYPE_3BYTE_BGR`: 8-bit B,G,R
    * component bytes, no alpha, sRGB) the accessor reads the raster's
    * backing byte array directly — 8 µs/frame, and BIT-EXACT by
    * construction: `getRGB` on that type returns exactly the stored
    * component bytes (verified pixel-for-pixel in the round-20 probe;
    * any slip would also fail the pixel-replaying DuckDB oracle loud).
    * Every other layout falls back to `getRGB`, identical by
    * definition.
    */
  private def lumaAccessor(img: java.awt.image.BufferedImage): (Int, Int) => Long =
    if (img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR) {
      val sm = img.getRaster.getSampleModel
        .asInstanceOf[java.awt.image.ComponentSampleModel]
      val data = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      val scan = sm.getScanlineStride
      val pix = sm.getPixelStride
      val offs = sm.getBandOffsets // (R, G, B) byte offsets within a pixel
      val (ro, go, bo) = (offs(0), offs(1), offs(2))
      (x: Int, y: Int) => {
        val i = y * scan + x * pix
        (data(i + ro) & 0xFF) * 299L +
          (data(i + go) & 0xFF) * 587L + (data(i + bo) & 0xFF) * 114L
      }
    } else {
      (x: Int, y: Int) => {
        val rgb = img.getRGB(x, y)
        ((rgb >> 16) & 0xFF) * 299L +
          ((rgb >> 8) & 0xFF) * 587L + (rgb & 0xFF) * 114L
      }
    }

  // Audio SPI providers cached ONCE per JVM: every AudioSystem
  // read/write dispatches through a synchronized static provider lookup
  // (JDK13Services.getProviders), which serializes a 32-thread decode
  // kernel on one global lock — measured ~18x instead of ~10x when the
  // corpus grew 10x. ServiceLoader is the same public SPI AudioSystem
  // itself uses; the cached reader/writer instances are stateless
  // parsers, safe to share across tasks.
  private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toList
  }
  private lazy val audioWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.toList
  }

  /** One media record: payload + typed metadata. */
  final case class MediaRecord(media_id: Long, modality: String,
                               payload: Array[Byte])

  /** Extracted features (stub-decoded). */
  final case class MediaFeatures(media_id: Long, modality: String,
                                 n_bytes: Long, width: Int, height: Int,
                                 channels: Int, n_frames: Int,
                                 byte_checksum: Long)

  /** ======== DETERMINISTIC STUB (video only) ========
    * Stand-in for the video decode (no JVM-builtin video codec; none
    * installable in this environment — images take the REAL
    * [[decodeImage]] path and audio the REAL [[decodeAudio]] path
    * instead). Pure function of payload length + bytes so results are
    * reproducible and oracle-checkable. A real deployment swaps only
    * this function.
    */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val n = r.payload.length.toLong
    var sum = 0L
    var i = 0
    while (i < r.payload.length) { sum += (r.payload(i) & 0xFF).toLong; i += 1 }
    MediaFeatures(
      media_id = r.media_id,
      modality = r.modality,
      n_bytes = n,
      width = (64 + n % 512).toInt,
      height = (64 + (n / 7) % 512).toInt,
      channels = 3,
      n_frames = if (r.modality == "video") (1 + n % 30).toInt else 1,
      byte_checksum = sum % 1000000007L)
  }

  /** REAL image decode via `javax.imageio` (PNG/JPEG/GIF/BMP on any
    * stock JVM): true decoded width/height and color-component count.
    * An undecodable payload raises — a corrupt blob in a 100 TB corpus
    * must surface in the job, not ride along as fabricated dimensions.
    * `byte_checksum` keeps the same pure byte-sum every kernel reports.
    */
  def decodeImage(r: MediaRecord): MediaFeatures = {
    imageIoNoCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for media_id=${r.media_id}")
    var sum = 0L
    var i = 0
    while (i < r.payload.length) { sum += (r.payload(i) & 0xFF).toLong; i += 1 }
    MediaFeatures(
      media_id = r.media_id,
      modality = r.modality,
      n_bytes = r.payload.length.toLong,
      width = img.getWidth,
      height = img.getHeight,
      channels = img.getColorModel.getNumComponents,
      n_frames = 1,
      byte_checksum = sum % 1000000007L)
  }

  /** 56-bit perceptual difference hash (dHash) of a decoded image: the
    * image-dedup signature. Kept at 56 bits (8 column comparisons x 7
    * rows over a 9 x 7 luma grid) so the value is a positive int64 in
    * every engine — the same rationale as the 60-bit text simhash.
    */
  final case class ImageHash(media_id: Long, width: Int, height: Int,
                             dhash: Long)

  /** REAL perceptual hash via `javax.imageio`: decode, integer luma per
    * pixel (299 r + 587 g + 114 b — the ITU-R 601 weights x1000, exact
    * int64 math), box-average onto a 9 x 7 grid (pixel x lands in cell
    * `x*9/w`, exact floor division), then one bit per adjacent-column
    * comparison: bit `cy*8+cx` set iff `cell[cy][cx+1] > cell[cy][cx]`.
    * Every step is integer-exact, so an engine that regenerates the
    * pixels reproduces the hash bit-for-bit — and like [[decodeImage]],
    * only a genuine pixel decode can: the hash lives in the image DATA,
    * not the container header. dHash is shift-invariant in brightness
    * (a uniformly brightened copy hashes identically), which is exactly
    * the near-dup robustness an image-dedup pass wants.
    */
  def decodeImageHash(r: MediaRecord): ImageHash = {
    imageIoNoCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for media_id=${r.media_id}")
    val w = img.getWidth
    val h = img.getHeight
    require(w >= 9 && h >= 7,
      s"image ${w}x$h too small for the 9x7 dHash grid (media_id=${r.media_id})")
    ImageHash(r.media_id, w, h, dhash9x7(w, h)(lumaAccessor(img)))
  }

  /** The shared dHash kernel: box-average the per-pixel luma onto a
    * 9 x 7 grid (pixel x lands in cell `x*9/w`, exact floor division),
    * then one bit per adjacent-column comparison — `bit cy*8+cx` set
    * iff the right cell's average strictly exceeds the left's. Integer
    * exact end to end; shared by the image and video-frame hashers so
    * the two modalities carry ONE signature definition.
    */
  private def dhash9x7(w: Int, h: Int)(lumaAt: (Int, Int) => Long): Long =
    horizontalBits(cellAverages9x7(w, h)(lumaAt))

  /** The 9 x 7 box-averaged luma cells (exact floor division per cell)
    * shared by the narrow and wide hash kernels — computed ONCE per
    * frame, both gradient directions derive from it.
    */
  private def cellAverages9x7(w: Int, h: Int)
                             (lumaAt: (Int, Int) => Long): Array[Long] = {
    val sums = new Array[Long](7 * 9)
    val counts = new Array[Long](7 * 9)
    var y = 0
    while (y < h) {
      val cy = y * 7 / h
      var x = 0
      while (x < w) {
        val c = cy * 9 + x * 9 / w
        sums(c) += lumaAt(x, y)
        counts(c) += 1L
        x += 1
      }
      y += 1
    }
    val avgs = new Array[Long](7 * 9)
    var c = 0
    while (c < 7 * 9) {
      avgs(c) = sums(c) / counts(c)
      c += 1
    }
    avgs
  }

  /** 56 horizontal-gradient bits: bit `cy*8+cx` set iff the right
    * cell's average strictly exceeds the left's (the classic dHash).
    */
  private def horizontalBits(avgs: Array[Long]): Long = {
    var hash = 0L
    var cy = 0
    while (cy < 7) {
      var cx = 0
      while (cx < 8) {
        if (avgs(cy * 9 + cx + 1) > avgs(cy * 9 + cx))
          hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** 54 VERTICAL-gradient bits over the same cells: bit `cx*6+cy` set
    * iff the lower cell's average strictly exceeds the upper's — the
    * public dHash variant orthogonal to [[horizontalBits]]. Together
    * they form the 110-bit two-word wide perceptual signature whose
    * 13–14-bit band keys keep banded candidate generation pruning at
    * corpus scale (the 56-bit family's 7-bit keys saturate at
    * n >> 128 — measured exactly quadratic across three decades).
    */
  private def verticalBits(avgs: Array[Long]): Long = {
    var hash = 0L
    var cx = 0
    while (cx < 9) {
      var cy = 0
      while (cy < 6) {
        if (avgs((cy + 1) * 9 + cx) > avgs(cy * 9 + cx))
          hash |= 1L << (cx * 6 + cy)
        cy += 1
      }
      cx += 1
    }
    hash
  }

  /** The wide two-word kernel: (horizontal 56-bit, vertical 54-bit)
    * from one cell-average pass.
    */
  private def dhashWide9x7(w: Int, h: Int)
                          (lumaAt: (Int, Int) => Long): (Long, Long) = {
    val avgs = cellAverages9x7(w, h)(lumaAt)
    (horizontalBits(avgs), verticalBits(avgs))
  }

  /** Batched perceptual-hash extraction — the same iterator-of-batches
    * `mapPartitions` kernel shape as [[extractFeatures]]. Zero shuffles:
    * payloads never leave their scan partition; only the 8-byte hash +
    * dims flow downstream (the frame an image-dedup pair join consumes).
    */
  def extractImageHashes(ds: Dataset[MediaRecord],
                         batchSize: Int = 64): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeImageHash))
  }

  /** WIDE two-word perceptual signature of an image: the 56-bit
    * horizontal dHash plus the 54-bit vertical dHash from the SAME
    * 9 x 7 cell averages — one decode, both gradient directions. The
    * corpus-scale signature: under maxHamming=7 banding the 110 bits
    * carry 13–14-bit band keys where [[ImageHash]]'s 56 bits carry
    * 7-bit keys, so all-corpus pair generation keeps pruning at sizes
    * where the narrow family is measured exactly quadratic.
    */
  final case class ImageHashWide(media_id: Long, width: Int, height: Int,
                                 dhash: Long, vhash: Long)

  /** [[decodeImageHash]]'s wide twin — same decode, same cells, the
    * horizontal word bit-identical to the narrow family's `dhash`.
    */
  def decodeImageHashWide(r: MediaRecord): ImageHashWide = {
    imageIoNoCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for media_id=${r.media_id}")
    val w = img.getWidth
    val h = img.getHeight
    require(w >= 9 && h >= 7,
      s"image ${w}x$h too small for the 9x7 dHash grid (media_id=${r.media_id})")
    val (dh, vh) = dhashWide9x7(w, h)(lumaAccessor(img))
    ImageHashWide(r.media_id, w, h, dh, vh)
  }

  def extractImageHashesWide(ds: Dataset[MediaRecord],
                             batchSize: Int = 64): Dataset[ImageHashWide] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeImageHashWide))
  }

  /** Decoded audio properties — the audio twin of [[MediaFeatures]],
    * with its own schema because the axes differ (a sample rate is not a
    * pixel width; forcing one struct would smuggle meanings through
    * mis-named fields). `duration_ms` is integer floor math
    * (frames * 1000 / rate) so it is exactly reproducible anywhere.
    */
  final case class AudioFeatures(media_id: Long, n_bytes: Long,
                                 sample_rate: Int, channels: Int,
                                 bits_per_sample: Int, n_frames: Long,
                                 duration_ms: Long, byte_checksum: Long)

  /** Cached-provider open (not AudioSystem.getAudioInputStream, whose
    * per-call synchronized provider lookup serializes the parallel
    * kernel): try each stock reader, exactly as AudioSystem itself
    * would; fail loud when none parses.
    */
  private def openAudio(payload: Array[Byte],
                        mediaId: Long): javax.sound.sampled.AudioInputStream =
    audioReaders.iterator.flatMap { rd =>
      try Some(rd.getAudioInputStream(new java.io.ByteArrayInputStream(payload)))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
      }
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      s"undecodable audio payload for media_id=$mediaId"))

  /** REAL audio decode (WAV/AIFF/AU on any stock JVM): true
    * container-parsed sample rate, channel count, sample width, and
    * frame length. An undecodable payload raises — same fail-loud
    * contract as [[decodeImage]] — and so does a container whose
    * header does not state its frame count (a streaming-style payload
    * would otherwise ship `n_frames = -1` and a negative duration as if
    * they were measurements).
    */
  def decodeAudio(r: MediaRecord): AudioFeatures = {
    val ais = openAudio(r.payload, r.media_id)
    try {
      val fmt = ais.getFormat
      require(ais.getFrameLength >= 0,
        s"audio payload for media_id=${r.media_id} does not declare its " +
          "frame count (streaming-style container); cannot report n_frames")
      // getSampleRate can be AudioSystem.NOT_SPECIFIED (-1) or 0 for some
      // containers — that would ship a negative duration (or divide by
      // zero) as if it were a measurement; same fail-loud contract as the
      // frame-length guard above.
      require(fmt.getSampleRate > 0,
        s"audio payload for media_id=${r.media_id} does not declare a " +
          s"positive sample rate (got ${fmt.getSampleRate})")
      var sum = 0L
      var i = 0
      while (i < r.payload.length) { sum += (r.payload(i) & 0xFF).toLong; i += 1 }
      AudioFeatures(
        media_id = r.media_id,
        n_bytes = r.payload.length.toLong,
        sample_rate = fmt.getSampleRate.toInt,
        channels = fmt.getChannels,
        bits_per_sample = fmt.getSampleSizeInBits,
        n_frames = ais.getFrameLength,
        duration_ms = ais.getFrameLength * 1000L / fmt.getSampleRate.toInt,
        byte_checksum = sum % 1000000007L)
    } finally ais.close()
  }

  /** The batch-decode kernel: receives a whole record batch, returns its
    * features. Images go through the REAL [[decodeImage]], audio through
    * the REAL [[decodeAudio]] (its properties folded into the shared
    * struct: width = sample rate, height = bits per sample, n_frames =
    * audio frame count — documented, lossless); video falls to the
    * documented [[decodeStub]] (no JVM-builtin video codec exists). A
    * real codec decodes the batch in one native call — that is the point
    * of the batch shape. Audio callers wanting the typed schema use
    * [[extractAudioFeatures]].
    */
  def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      r.modality match {
        case "image" => decodeImage(r)
        case "audio" =>
          val a = decodeAudio(r)
          // The shared struct narrows n_frames to Int; refuse to wrap
          // rather than ship a silently corrupted count (the typed
          // extractAudioFeatures path keeps the Long).
          require(a.n_frames <= Int.MaxValue,
            s"audio media_id=${a.media_id} has ${a.n_frames} frames — " +
              "exceeds the shared MediaFeatures Int field; use " +
              "extractAudioFeatures for the typed Long schema")
          MediaFeatures(a.media_id, r.modality, a.n_bytes,
            width = a.sample_rate, height = a.bits_per_sample,
            channels = a.channels, n_frames = a.n_frames.toInt,
            byte_checksum = a.byte_checksum)
        case _ => decodeStub(r)
      }
    }

  /** Batched feature extraction — the `mapInPandas` execution shape in
    * Scala: iterator-of-batches in, iterator-of-batches out. Each
    * partition streams `batchSize`-record batches through ONE call of the
    * batch-decode kernel, so a real codec amortizes its native setup per
    * batch, not per record.
    */
  def extractFeatures(ds: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap(batch => decodeBatch(batch))
    }
  }

  /** The shared per-record batched-kernel shape: iterator-of-batches
    * in, records out. With a per-record `f` the batching is pure
    * structure (one Seq per batch) — it exists so a future NATIVE batch
    * codec swaps `_.map(f)` for one batch call without touching any
    * caller; [[decodeBatch]] is the batch-granular variant.
    */
  private def mapBatched[I, O](it: Iterator[I], batchSize: Int)
                              (f: I => O): Iterator[O] =
    it.grouped(batchSize).flatMap(_.map(f))

  /** Batched audio feature extraction with the typed [[AudioFeatures]]
    * schema — same iterator-of-batches `mapPartitions` shape as
    * [[extractFeatures]]. Every record must be decodable audio (the
    * fail-loud [[decodeAudio]] contract).
    */
  def extractAudioFeatures(ds: Dataset[MediaRecord],
                           batchSize: Int = 64): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeAudio))
  }

  /** SAMPLE-level audio content features — all-integer, so the values
    * are exactly reproducible by any engine that can regenerate the
    * samples: total `sum(s^2)` (energy), `sum(|s|)`, and `max(|s|)`
    * (peak) over every decoded 16-bit sample across all channels.
    * Where [[AudioFeatures]] certifies the container parse (header
    * properties), this certifies the PCM payload decode itself.
    */
  final case class AudioContentFeatures(media_id: Long, channels: Int,
                                        n_frames: Long, sum_sq: Long,
                                        sum_abs: Long, peak_abs: Int)

  /** Decode the full PCM16 data section: (format, frame count, raw
    * bytes). Fails loud on non-PCM16 payloads, on containers that do
    * not declare their frame count, and on a data section shorter than
    * the header's promise — a truncated blob in a 100 TB corpus must
    * surface here, not as silently-low energy. Shared by every
    * sample-level kernel.
    */
  private def readPcm16(payload: Array[Byte], mediaId: Long)
      : (javax.sound.sampled.AudioFormat, Long, Array[Byte]) = {
    val ais = openAudio(payload, mediaId)
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          && fmt.getSampleSizeInBits == 16,
        s"sample decode supports 16-bit signed PCM, got $fmt " +
          s"for media_id=$mediaId")
      require(ais.getFrameLength >= 0,
        s"audio payload for media_id=$mediaId does not declare its frame " +
          "count (streaming-style container); cannot verify the data section")
      val bytes = ais.readAllBytes()
      val expected = ais.getFrameLength * fmt.getFrameSize
      require(bytes.length.toLong == expected,
        s"truncated audio payload for media_id=$mediaId: " +
          s"${bytes.length} data bytes, header promises $expected")
      (fmt, ais.getFrameLength, bytes)
    } finally ais.close()
  }

  /** One 16-bit sample from a PCM data section. */
  @inline private def pcm16At(bytes: Array[Byte], idx: Int, big: Boolean): Int =
    if (big) (bytes(2 * idx) << 8) | (bytes(2 * idx + 1) & 0xFF)
    else (bytes(2 * idx + 1) << 8) | (bytes(2 * idx) & 0xFF)

  /** REAL sample decode: reads the full PCM16 data section out of the
    * container (either endianness) and folds exact integer aggregates
    * over it — [[readPcm16]] carries the fail-loud non-PCM16 /
    * undeclared-length / truncation guards.
    */
  def decodeAudioContent(r: MediaRecord): AudioContentFeatures = {
    val (fmt, nFrames, bytes) = readPcm16(r.payload, r.media_id)
    val big = fmt.isBigEndian
    val n = bytes.length / 2
    var i = 0
    var sumSq = 0L
    var sumAbs = 0L
    var peak = 0
    while (i < n) {
      val s = pcm16At(bytes, i, big)
      val a = if (s < 0) -s else s
      sumSq += s.toLong * s
      sumAbs += a
      if (a > peak) peak = a
      i += 1
    }
    AudioContentFeatures(r.media_id, fmt.getChannels, nFrames,
      sumSq, sumAbs, peak)
  }

  /** Batched sample-level extraction — the [[extractAudioFeatures]]
    * kernel shape over [[decodeAudioContent]].
    */
  def extractAudioContent(ds: Dataset[MediaRecord],
                          batchSize: Int = 64): Dataset[AudioContentFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeAudioContent))
  }

  /** Number of time segments in the audio perceptual fingerprint —
    * chosen so the envelope word carries 56 comparison bits, matching
    * the image family's 9x7 horizontal word width (the two modalities
    * then share one (56, 54, maxHamming) wide banding layout).
    */
  val AudioFpSegments: Int = 57

  /** 110-bit audio perceptual fingerprint — the audio member of the
    * WIDE two-word hamming family ([[ImageHashWide]] /
    * [[VideoHashWide]]): `ehash` is the 56-bit ENERGY-ENVELOPE word
    * (segment-loudness dHash — bit t set iff segment t+1 is strictly
    * louder than segment t), `rhash` the 54-bit FLUX-RATIO word (bit t
    * set iff the mean-normalized adjacent-sample flux of segment t+1
    * strictly exceeds segment t's — a zero-crossing-rate/brightness
    * axis that is invariant to per-segment gain, so the two words
    * measure independent signal properties). Both words are exact
    * integer functions of the decoded PCM16 samples: an engine that
    * replays the sample arithmetic reproduces them bit-for-bit.
    */
  final case class AudioHashWide(media_id: Long, sample_rate: Int,
                                 n_frames: Long, ehash: Long, rhash: Long)

  /** REAL audio perceptual hash: decode the full PCM16 data section
    * ([[readPcm16]]'s fail-loud truncation/encoding guards), split the
    * interleaved sample stream into [[AudioFpSegments]] proportional
    * segments, and fold two exact integer features per segment —
    * E[t] = Σ|s_i| (loudness) and D[t] = Σ|s_{i+ch} − s_i| over
    * PER-CHANNEL sample pairs fully inside the segment (un-normalized
    * temporal flux; ch = channel count, so each sample diffs against
    * the previous sample of its OWN channel — for multi-channel audio
    * the raw interleaved diff would measure inter-channel jumps, not
    * flux, silently breaking the brightness semantics; mono is the
    * ch=1 special case, bit-identical to the historical kernel). The
    * envelope word compares E[t+1] > E[t]; the flux-ratio word compares
    * D[t+1]/E[t+1] > D[t]/E[t] cross-multiplied (D[t+1]·E[t] >
    * D[t]·E[t+1]) in BigInt — each factor can reach ~2^41 for
    * hour-scale audio, so the product would overflow int64; the 54
    * comparisons per file are nowhere near the sample loop's cost.
    * The gain-invariance of the ratio axis is what makes `rhash`
    * informative on volume-normalized near-copies where `ehash` alone
    * would see identical envelopes.
    */
  def decodeAudioHashWide(r: MediaRecord): AudioHashWide = {
    val (fmt, nFrames, bytes) = readPcm16(r.payload, r.media_id)
    val big = fmt.isBigEndian
    val T = AudioFpSegments
    val nL = nFrames * fmt.getChannels
    require(nL <= Int.MaxValue,
      s"audio media_id=${r.media_id} has $nL interleaved samples — " +
        "exceeds the in-memory fingerprint kernel's addressable range")
    val n = nL.toInt
    require(n >= 2 * T,
      s"audio media_id=${r.media_id} has only $n samples — the " +
        s"$T-segment fingerprint needs at least ${2 * T}")
    val e = new Array[Long](T)
    val d = new Array[Long](T)
    val ch = fmt.getChannels
    // Per-channel previous-sample ring: interleaved index i belongs to
    // channel i % ch, so slot i % ch always holds that channel's last
    // sample. The first `ch` samples of a segment have no same-channel
    // predecessor inside it and contribute no flux pair — exactly the
    // mono kernel's "pairs fully inside the segment" rule at ch = 1.
    val prevC = new Array[Int](ch)
    var t = 0
    while (t < T) {
      val lo = (t.toLong * n / T).toInt
      val hi = ((t + 1).toLong * n / T).toInt
      var i = lo
      while (i < hi) {
        val s = pcm16At(bytes, i, big)
        e(t) += (if (s < 0) -s else s).toLong
        if (i - lo >= ch) {
          val df = s - prevC(i % ch)
          d(t) += (if (df < 0) -df else df).toLong
        }
        prevC(i % ch) = s
        i += 1
      }
      t += 1
    }
    var eh = 0L
    t = 0
    while (t < T - 1) { if (e(t + 1) > e(t)) eh |= 1L << t; t += 1 }
    var rh = 0L
    t = 0
    while (t < T - 3) {
      if (BigInt(d(t + 1)) * BigInt(e(t)) > BigInt(d(t)) * BigInt(e(t + 1)))
        rh |= 1L << t
      t += 1
    }
    AudioHashWide(r.media_id, fmt.getSampleRate.toInt, nFrames, eh, rh)
  }

  /** Batched audio fingerprint extraction — the [[extractAudioFeatures]]
    * kernel shape over [[decodeAudioHashWide]]. The output feeds the
    * generic WIDE hamming machinery unchanged:
    * [[graft.llm.Dedup.hammingNearDupPairsWide]] /
    * [[graft.llm.Dedup.writeHammingWideIndex]] with
    * (nLoBits=56, nHiBits=54) — the same corpus-scale 13–14-bit band
    * keys as the image/video families.
    */
  def extractAudioHashesWide(ds: Dataset[MediaRecord],
                             batchSize: Int = 64): Dataset[AudioHashWide] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeAudioHashWide))
  }

  /** Video container metadata — the video twin of [[AudioFeatures]].
    * `fps_rate`/`fps_scale` carry the AVI stream-header rational
    * (frames per second = rate/scale) exactly as stored, so no float
    * ever enters the row; `duration_ms` is truncating integer math
    * (frames * 1000 * scale / rate), reproducible by any engine.
    */
  final case class VideoFeatures(media_id: Long, n_bytes: Long,
                                 width: Int, height: Int,
                                 fps_rate: Int, fps_scale: Int,
                                 n_frames: Long, duration_ms: Long,
                                 bit_count: Int, compression: Long,
                                 size_image: Long, byte_checksum: Long)

  /** Little-endian u32 read (as Long — RIFF sizes are unsigned). */
  @inline private def le32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xFFL)) | ((b(off + 1) & 0xFFL) << 8) |
      ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

  @inline private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL video container metadata parse: a genuine RIFF/AVI chunk walk
    * (no JVM-builtin video API exists, so unlike audio this walker is
    * hand-rolled — RIFF is the same container family WAV uses, ~50
    * lines). Recovers width/height from the `avih` main header and the
    * frame-rate rational + frame count from the `vids` stream header
    * (`strh`), cross-checking `avih.dwTotalFrames == strh.dwLength` —
    * a blob where the two disagree is corrupt and must surface.
    * Frame PIXEL decode remains out of scope (no JVM-builtin codec;
    * [[decodeStub]] documents that boundary) — this certifies the
    * container layer, the same layer [[decodeAudio]] certifies for WAV.
    *
    * Fails loud on anything malformed: wrong magic, truncated chunk,
    * missing `avih`/`vids strh`, or a non-positive rate/scale.
    */
  def decodeVideoMeta(r: MediaRecord): VideoFeatures = {
    val b = r.payload
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"undecodable video payload for media_id=${r.media_id}: $msg")
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      fail("not a RIFF/AVI container")
    val riffEnd = 8 + le32(b, 4)
    if (riffEnd > b.length) fail(
      s"truncated container: RIFF promises ${riffEnd} bytes, payload has ${b.length}")

    // Walk the chunks of [from, to); return (fourcc or LIST-type, dataFrom,
    // dataTo) triples. LIST chunks surface their list TYPE so callers
    // descend by name; data offsets for a LIST exclude the 4-byte type.
    def chunks(from: Long, until: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var pos = from
        def hasNext: Boolean = pos + 8 <= until
        def next(): (String, Long, Long) = {
          val id = fourcc(b, pos.toInt)
          val sz = le32(b, pos.toInt + 4)
          val dataFrom = pos + 8
          val dataTo = dataFrom + sz
          if (dataTo > until) fail(s"chunk $id overruns its parent")
          pos = dataTo + (sz & 1) // RIFF chunks are word-aligned
          if (id == "LIST") {
            if (sz < 4) fail("LIST chunk too short for a type")
            (fourcc(b, dataFrom.toInt), dataFrom + 4, dataTo)
          } else (id, dataFrom, dataTo)
        }
      }

    val hdrl = chunks(12, riffEnd)
      .collectFirst { case ("hdrl", f, t) => (f, t) }
      .getOrElse(fail("no hdrl header list"))
    var avih: Option[Long] = None
    var vidsStrh: Option[Long] = None
    var vidsStrf: Option[(Long, Long)] = None
    chunks(hdrl._1, hdrl._2).foreach {
      case ("avih", f, t) =>
        if (t - f < 40) fail("avih main header shorter than 40 bytes")
        avih = avih.orElse(Some(f))
      case ("strl", f, t) =>
        // One stream list = one strh followed by its strf format chunk;
        // the strf belongs to the SAME strl, so pair them per list.
        var strh: Option[(Long, Long)] = None
        var strf: Option[(Long, Long)] = None
        chunks(f, t).foreach {
          case ("strh", sf, st) if strh.isEmpty => strh = Some((sf, st))
          case ("strf", sf, st) if strf.isEmpty => strf = Some((sf, st))
          case _ => ()
        }
        strh.foreach { case (sf, st) =>
          if (vidsStrh.isEmpty && fourcc(b, sf.toInt) == "vids") {
            if (st - sf < 36) fail("strh stream header shorter than 36 bytes")
            vidsStrh = Some(sf)
            vidsStrf = strf
          }
        }
      case _ => ()
    }
    val ah = avih.getOrElse(fail("no avih main header")).toInt
    val sh = vidsStrh.getOrElse(fail("no vids stream header")).toInt
    val width = le32(b, ah + 32)
    val height = le32(b, ah + 36)
    val totalFrames = le32(b, ah + 16)
    val scale = le32(b, sh + 20)
    val rate = le32(b, sh + 24)
    val length = le32(b, sh + 32)
    if (rate <= 0 || scale <= 0) fail(s"non-positive fps rational $rate/$scale")
    if (totalFrames != length) fail(
      s"avih.dwTotalFrames=$totalFrames disagrees with vids strh.dwLength=$length")
    // strf = the stream FORMAT chunk: for a vids stream it is a
    // BITMAPINFOHEADER (biSize u32, biWidth s32, biHeight s32, biPlanes
    // u16, biBitCount u16, biCompression u32, biSizeImage u32, ...).
    // Its dimensions must agree with the avih main header — a container
    // where they disagree is corrupt and must surface, the same
    // cross-check posture as dwTotalFrames==dwLength above.
    val (ff, ft) = vidsStrf.getOrElse(fail("no strf format chunk in the vids strl"))
    if (ft - ff < 40) fail("strf BITMAPINFOHEADER shorter than 40 bytes")
    val f0 = ff.toInt
    val biSize = le32(b, f0)
    if (biSize < 40) fail(s"strf.biSize=$biSize below the 40-byte BITMAPINFOHEADER")
    val biW = le32(b, f0 + 4).toInt
    // biHeight < 0 marks a top-down DIB; the frame height is |biHeight|.
    val biH = math.abs(le32(b, f0 + 8).toInt)
    if (biW != width || biH != height) fail(
      s"strf dimensions ${biW}x$biH disagree with avih ${width}x$height")
    val bitCount = (b(f0 + 14) & 0xFF) | ((b(f0 + 15) & 0xFF) << 8)
    val compression = le32(b, f0 + 16)
    val sizeImage = le32(b, f0 + 20)
    var sum = 0L
    var i = 0
    while (i < b.length) { sum += (b(i) & 0xFF).toLong; i += 1 }
    VideoFeatures(
      media_id = r.media_id,
      n_bytes = b.length.toLong,
      width = width.toInt,
      height = height.toInt,
      fps_rate = rate.toInt,
      fps_scale = scale.toInt,
      n_frames = length,
      duration_ms = length * 1000L * scale / rate,
      bit_count = bitCount,
      compression = compression,
      size_image = sizeImage,
      byte_checksum = sum % 1000000007L)
  }

  /** Batched video-metadata extraction — the [[extractAudioFeatures]]
    * kernel shape over [[decodeVideoMeta]].
    */
  def extractVideoFeatures(ds: Dataset[MediaRecord],
                           batchSize: Int = 64): Dataset[VideoFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeVideoMeta))
  }

  /** 56-bit first-frame perceptual hash of a video — the video-dedup
    * signature ([[ImageHash]]'s twin; same [[dhash9x7]] kernel, so the
    * two modalities share one signature definition).
    */
  final case class VideoHash(media_id: Long, width: Int, height: Int,
                             dhash: Long)

  /** REAL video-frame perceptual hash: walk the RIFF/AVI container to
    * the `movi` list, decode the FIRST uncompressed `00db` frame as a
    * bottom-up BI_RGB 24bpp DIB (BGR byte order, rows padded to 4-byte
    * stride — the actual Windows DIB layout), and [[dhash9x7]] the
    * pixel luma. The hash lives in the frame DATA, not the headers:
    * only a decoder that really reads the pixel bytes (right stride,
    * right row direction, right channel order) reproduces it — the
    * data-level certification [[decodeImageHash]] gives images and
    * [[decodeAudioContent]] gives audio, now for video. Fails loud on
    * anything this decoder cannot honestly hash: no movi list, no
    * frame chunk, compressed or non-24bpp formats, or a frame chunk
    * whose size disagrees with stride x height.
    */
  def decodeVideoFrameHash(r: MediaRecord): VideoHash = {
    val g = aviDibGeometry(r)
    if (g.frames.isEmpty) videoFail(r, "no frame chunk in the movi list")
    VideoHash(r.media_id, g.w, g.h, hashDibFrame(r, g, g.frames.head))
  }

  /** [[VideoHash]]'s wide twin — (horizontal, vertical) first-frame
    * words; the corpus-scale video-dedup signature (see
    * [[ImageHashWide]] for the band-key arithmetic).
    */
  final case class VideoHashWide(media_id: Long, width: Int, height: Int,
                                 dhash: Long, vhash: Long)

  def decodeVideoFrameHashWide(r: MediaRecord): VideoHashWide = {
    val g = aviDibGeometry(r)
    if (g.frames.isEmpty) videoFail(r, "no frame chunk in the movi list")
    val (dh, vh) = hashDibFrameWide(r, g, g.frames.head)
    VideoHashWide(r.media_id, g.w, g.h, dh, vh)
  }

  def extractVideoFrameHashesWide(ds: Dataset[MediaRecord],
                                  batchSize: Int = 64): Dataset[VideoHashWide] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeVideoFrameHashWide))
  }

  /** The 'MJPG' biCompression fourcc (little-endian u32) — the AVI
    * Motion-JPEG marker: each movi frame chunk is a standalone JPEG.
    */
  private val MjpgFourcc = 0x47504A4DL

  /** Decoded AVI frame geometry + the bounds of every frame chunk —
    * the shared RIFF-walk core of the first-frame and strided hashers.
    * `compression` selects the frame-decode path: 0 = uncompressed
    * BI_RGB 24bpp DIB, [[MjpgFourcc]] = Motion-JPEG.
    */
  private final case class AviDibGeometry(w: Int, h: Int, topDown: Boolean,
                                          stride: Int, compression: Long,
                                          frames: Vector[(Long, Long)])

  private def videoFail(r: MediaRecord, msg: String): Nothing =
    throw new IllegalArgumentException(
      s"undecodable video payload for media_id=${r.media_id}: $msg")

  private def aviDibGeometry(r: MediaRecord): AviDibGeometry = {
    val b = r.payload
    def fail(msg: String): Nothing = videoFail(r, msg)
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      fail("not a RIFF/AVI container")
    val riffEnd = 8 + le32(b, 4)
    if (riffEnd > b.length) fail("truncated container")
    def chunks(from: Long, until: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var pos = from
        def hasNext: Boolean = pos + 8 <= until
        def next(): (String, Long, Long) = {
          val id = fourcc(b, pos.toInt)
          val sz = le32(b, pos.toInt + 4)
          val dataFrom = pos + 8
          val dataTo = dataFrom + sz
          if (dataTo > until) fail(s"chunk $id overruns its parent")
          pos = dataTo + (sz & 1)
          if (id == "LIST") {
            if (sz < 4) fail("LIST chunk too short for a type")
            (fourcc(b, dataFrom.toInt), dataFrom + 4, dataTo)
          } else (id, dataFrom, dataTo)
        }
      }
    // Frame geometry from the vids strf BITMAPINFOHEADER (the format
    // contract the frame bytes must honor).
    val hdrl = chunks(12, riffEnd)
      .collectFirst { case ("hdrl", f, t) => (f, t) }
      .getOrElse(fail("no hdrl header list"))
    var fmt: Option[(Long, Long)] = None
    chunks(hdrl._1, hdrl._2).foreach {
      case ("strl", f, t) if fmt.isEmpty =>
        val isVids = chunks(f, t).collectFirst {
          case ("strh", sf, _) => fourcc(b, sf.toInt) == "vids"
        }.getOrElse(false)
        if (isVids)
          fmt = chunks(f, t)
            .collectFirst { case ("strf", sf, st) => (sf, st) }
      case _ => ()
    }
    val (f0L, fEnd) = fmt.getOrElse(fail("no vids strf format chunk"))
    // The fields read below live at f0+4..f0+19; a truncated strf would
    // silently read the adjacent container bytes. BITMAPINFOHEADER is
    // 40 bytes by spec — anything shorter is a malformed file.
    if (fEnd - f0L < 40L)
      fail(s"strf chunk ${fEnd - f0L} bytes, BITMAPINFOHEADER needs 40")
    val f0 = f0L.toInt
    val w = le32(b, f0 + 4).toInt
    val biH = le32(b, f0 + 8).toInt
    val h = math.abs(biH)
    val bitCount = (b(f0 + 14) & 0xFF) | ((b(f0 + 15) & 0xFF) << 8)
    val compression = le32(b, f0 + 16)
    val isDib = compression == 0L && bitCount == 24
    val isMjpeg = compression == MjpgFourcc
    if (!isDib && !isMjpeg)
      fail(s"frame format not BI_RGB 24bpp or MJPG (compression=$compression, " +
        s"bitCount=$bitCount) - this decoder cannot honestly hash it")
    if (w < 9 || h < 7)
      fail(s"frame ${w}x$h too small for the 9x7 dHash grid")
    val movi = chunks(12, riffEnd)
      .collectFirst { case ("movi", f, t) => (f, t) }
      .getOrElse(fail("no movi list"))
    val frames = chunks(movi._1, movi._2)
      .collect { case (id, f, t)
        if id.endsWith("db") || id.endsWith("dc") => (f, t) }
      .toVector
    val stride = ((w.toLong * 24 + 31) / 32 * 4).toInt
    AviDibGeometry(w, h, biH < 0, stride, compression, frames)
  }

  /** dHash ONE frame given its chunk bounds — the shared [[dhash9x7]]
    * luma kernel over the codec-appropriate pixel accessor
    * ([[frameLumaAt]]: raw DIB rows or a genuine JPEG decode).
    */
  private def hashDibFrame(r: MediaRecord, g: AviDibGeometry,
                           frame: (Long, Long)): Long =
    dhash9x7(g.w, g.h)(frameLumaAt(r, g, frame))

  /** [[hashDibFrame]]'s wide twin: (horizontal, vertical) words from
    * one cell pass over the same honestly-decoded pixels.
    */
  private def hashDibFrameWide(r: MediaRecord, g: AviDibGeometry,
                               frame: (Long, Long)): (Long, Long) =
    dhashWide9x7(g.w, g.h)(frameLumaAt(r, g, frame))

  /** The codec dispatch of the frame hashers: one luma accessor per
    * frame chunk — DIB reads the raw bytes in place; MJPEG decodes the
    * chunk as a standalone JPEG ONCE (accessor construction), then
    * serves pixels from the decoded image. Both end in the identical
    * ITU-R 601 integer luma, so the dHash kernel sees one pixel
    * contract across codecs.
    */
  private def frameLumaAt(r: MediaRecord, g: AviDibGeometry,
                          frame: (Long, Long)): (Int, Int) => Long =
    if (g.compression == MjpgFourcc) mjpegLumaAt(r, g, frame)
    else dibLumaAt(r, g, frame)

  /** Luma accessor over ONE Motion-JPEG frame chunk: a real
    * `javax.imageio` JPEG decode of the chunk bytes (the image
    * family's decoder reused on the video path), dimensions checked
    * against the container's format contract. Fails loud on an
    * undecodable chunk or a frame/header size disagreement — a corrupt
    * frame in a 100 TB corpus must surface in the job.
    */
  private def mjpegLumaAt(r: MediaRecord, g: AviDibGeometry,
                          frame: (Long, Long)): (Int, Int) => Long = {
    imageIoNoCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      java.util.Arrays.copyOfRange(r.payload, frame._1.toInt, frame._2.toInt)))
    if (img == null) videoFail(r, "undecodable MJPEG frame chunk")
    if (img.getWidth != g.w || img.getHeight != g.h)
      videoFail(r, s"MJPEG frame ${img.getWidth}x${img.getHeight} " +
        s"disagrees with the container header ${g.w}x${g.h}")
    lumaAccessor(img)
  }

  /** Size-checked luma accessor over one uncompressed DIB frame —
    * bottom-up (or top-down) rows, 4-byte stride, B-G-R channel order;
    * the shared pixel contract of the narrow and wide video hashers.
    */
  private def dibLumaAt(r: MediaRecord, g: AviDibGeometry,
                        frame: (Long, Long)): (Int, Int) => Long = {
    val b = r.payload
    if (frame._2 - frame._1 != g.stride.toLong * g.h)
      videoFail(r, s"frame chunk ${frame._2 - frame._1} bytes, expected " +
        s"stride(${g.stride}) x height(${g.h})")
    val base = frame._1.toInt
    (x: Int, y: Int) => {
      val row = if (g.topDown) y else g.h - 1 - y
      val off = base + row * g.stride + x * 3
      // DIB pixel order is B, G, R.
      (b(off + 2) & 0xFF) * 299L + (b(off + 1) & 0xFF) * 587L +
        (b(off) & 0xFF) * 114L
    }
  }

  /** One STRIDED frame hash of a video: (media_id, total decodable
    * frames, the frame's index, its 56-bit dHash). A video is a SET of
    * these rows — the signature shape the banded hamming set-join
    * consumes.
    */
  final case class VideoStrideHash(media_id: Long, n_frames: Int,
                                   frame_idx: Int, dhash: Long)

  /** STRIDED multi-frame perceptual hashes: hash `k` frames evenly
    * strided across the movi list (indices ⌊i·n/k⌋ — frame 0, then
    * every n/k-th; all n when n ≤ k) instead of the first frame only.
    * Closes the first-frame evasion of [[decodeVideoFrameHash]]: a
    * re-encode that prepends or edits the opening frame still shares
    * its later strided frames with the original, so banding over the
    * frame-hash SET (the winnowing idiom — any shared band of any
    * frame pair makes the videos candidates) recovers the pair. Each
    * selected frame passes the same stride × height format check as
    * the first-frame path; container-level failures are identical.
    */
  def decodeVideoFrameHashesStrided(r: MediaRecord,
                                    k: Int): Seq[VideoStrideHash] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = aviDibGeometry(r)
    val n = g.frames.length
    if (n == 0) videoFail(r, "no frame chunk in the movi list")
    val kk = math.min(k, n)
    (0 until kk).map { i =>
      val idx = i * n / kk // strictly increasing for kk <= n: no dups
      VideoStrideHash(r.media_id, n, idx, hashDibFrame(r, g, g.frames(idx)))
    }
  }

  /** Batched strided-hash extraction — [[extractVideoFrameHashes]]'s
    * multi-frame twin: one row per (video, strided frame), frame
    * payloads never leave their scan partition.
    */
  def extractVideoFrameHashesStrided(ds: Dataset[MediaRecord], k: Int,
                                     batchSize: Int = 64)
                                    : Dataset[VideoStrideHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize)
      .flatMap(_.flatMap(decodeVideoFrameHashesStrided(_, k))))
  }

  /** [[VideoStrideHash]]'s WIDE twin: one strided frame's
    * (horizontal, vertical) word pair — the member-signature shape the
    * wide banded set machinery consumes.
    */
  final case class VideoStrideHashWide(media_id: Long, n_frames: Int,
                                       frame_idx: Int, dhash: Long,
                                       vhash: Long)

  /** [[decodeVideoFrameHashesStrided]]'s wide twin: the same strided
    * frame selection (indices ⌊i·n/k⌋), each frame hashed to the
    * two-word 110-bit signature from ONE cell pass — the corpus-scale
    * strided signature (13–14-bit band keys under maxHamming=7 where
    * the narrow 56-bit family saturates at 128 key values).
    */
  def decodeVideoFrameHashesStridedWide(r: MediaRecord,
                                        k: Int): Seq[VideoStrideHashWide] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = aviDibGeometry(r)
    val n = g.frames.length
    if (n == 0) videoFail(r, "no frame chunk in the movi list")
    val kk = math.min(k, n)
    (0 until kk).map { i =>
      val idx = i * n / kk // strictly increasing for kk <= n: no dups
      val (dh, vh) = hashDibFrameWide(r, g, g.frames(idx))
      VideoStrideHashWide(r.media_id, n, idx, dh, vh)
    }
  }

  /** Batched wide strided-hash extraction —
    * [[extractVideoFrameHashesStrided]]'s two-word twin.
    */
  def extractVideoFrameHashesStridedWide(ds: Dataset[MediaRecord], k: Int,
                                         batchSize: Int = 64)
                                        : Dataset[VideoStrideHashWide] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize)
      .flatMap(_.flatMap(decodeVideoFrameHashesStridedWide(_, k))))
  }

  /** Batched first-frame-hash extraction — the [[extractImageHashes]]
    * kernel shape over [[decodeVideoFrameHash]]. Zero shuffles: frame
    * payloads never leave their scan partition; only the 8-byte hash +
    * dims flow downstream.
    */
  def extractVideoFrameHashes(ds: Dataset[MediaRecord],
                              batchSize: Int = 64): Dataset[VideoHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(decodeVideoFrameHash))
  }

  /** Video near-dup fixture groups — [[syntheticImageGroups]]'s video
    * twin: consecutive ids share a group whose FRAME PIXELS differ only
    * by a per-member blue-channel nudge (+3·m — a re-encode-style
    * perturbation dHash absorbs), so each group's first frames hash
    * within a few bits of each other. The pixel field is integer
    * arithmetic in (group, x, y), recoverable only by a genuine DIB
    * frame decode; the AVI container is structurally real
    * ([[syntheticAvi]] with an actual 00db frame).
    */
  def syntheticVideoGroups(df: DataFrame, idCol: String, groupSize: Int = 4)
                          (implicit spark: SparkSession): Dataset[MediaRecord] = {
    require(groupSize >= 1, s"groupSize must be >= 1, got $groupSize")
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / groupSize
        val m = id % groupSize
        // md5 group salt (see syntheticImageGroups): inter-group frames
        // stay hash-uniform at any corpus size; oracle h60('vid:' || g).
        val gs = TextOps.hash60Scala(s"vid:$g")
        val w = (12 + g % 20).toInt
        val h = (10 + g % 15).toInt
        val stride = ((w * 24 + 31) / 32) * 4
        val frame = new Array[Byte](stride * h)
        var y = 0
        while (y < h) {
          val row = h - 1 - y // bottom-up DIB: file row 0 = image bottom
          var x = 0
          while (x < w) {
            val base = mix48(gs + x * 48271L + y * 69621L)
            val off = row * stride + x * 3
            frame(off) = ((base + m * 3) & 0xFFL).toByte         // B
            frame(off + 1) = ((base >> 8) & 0xFFL).toByte        // G
            frame(off + 2) = ((base >> 16) & 0xFFL).toByte       // R
            x += 1
          }
          y += 1
        }
        MediaRecord(id, "video",
          syntheticAvi(w, h, fpsRate = 25, fpsScale = 1, nFrames = 1,
            bitCount = 24, compression = 0L, frames = Seq(frame)))
      })
  }

  /** MULTI-FRAME video near-dup fixture — the first-frame-evasion
    * scenario [[syntheticVideoGroups]] cannot model: each AVI carries
    * `nFrames` genuine 00db frames where frame 0 is scrambled PER
    * MEMBER (`m·1000003` folded into the pixel mix — a re-encode that
    * replaced the opening frame), while frames 1.. differ across group
    * members only by the blue-channel nudge (+3·m). First-frame
    * hashing therefore MISSES every intra-group pair; the strided
    * frame-hash set recovers them through the shared later frames.
    * All pixel fields stay integer arithmetic in (g, m, f, x, y) so a
    * DuckDB oracle replays the hashes symbolically.
    */
  def syntheticVideoGroupsStrided(df: DataFrame, idCol: String,
                                  groupSize: Int = 4, nFrames: Int = 4)
                                 (implicit spark: SparkSession)
                                 : Dataset[MediaRecord] = {
    require(groupSize >= 1, s"groupSize must be >= 1, got $groupSize")
    require(nFrames >= 2, s"nFrames must be >= 2, got $nFrames")
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / groupSize
        val m = id % groupSize
        // md5 group salt (see syntheticImageGroups): oracle h60('vids:' || g).
        val gs = TextOps.hash60Scala(s"vids:$g")
        val w = (12 + g % 20).toInt
        val h = (10 + g % 15).toInt
        val stride = ((w * 24 + 31) / 32) * 4
        val frames = (0 until nFrames).map { f =>
          val frame = new Array[Byte](stride * h)
          var y = 0
          while (y < h) {
            val row = h - 1 - y // bottom-up DIB
            var x = 0
            while (x < w) {
              val scramble = if (f == 0) m * 1000003L else 0L
              val base = mix48(gs + x * 48271L + y * 69621L +
                f * 1299721L + scramble)
              val off = row * stride + x * 3
              frame(off) = ((base + m * 3) & 0xFFL).toByte       // B
              frame(off + 1) = ((base >> 8) & 0xFFL).toByte      // G
              frame(off + 2) = ((base >> 16) & 0xFFL).toByte     // R
              x += 1
            }
            y += 1
          }
          frame
        }
        MediaRecord(id, "video",
          syntheticAvi(w, h, fpsRate = 25, fpsScale = 1, nFrames = nFrames,
            bitCount = 24, compression = 0L, frames = frames))
      })
  }

  /** Deterministic real AVI fixture: a structurally-genuine RIFF/AVI
    * (RIFF→hdrl→avih + strl→strh/strf→movi) whose header fields are
    * the given values. As with [[syntheticWav]], the properties live
    * ONLY in headers a parser must walk — payload length alone
    * under-determines them — so a round-trip through
    * [[decodeVideoMeta]] certifies an actual container parse. The
    * `movi` list is empty (metadata fixture; frame payloads are the
    * codec layer this environment cannot exercise).
    */
  def syntheticAvi(width: Int, height: Int, fpsRate: Int, fpsScale: Int,
                   nFrames: Int, bitCount: Int = 24,
                   compression: Long = 0L,
                   frames: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
    }
    def u16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def tag(s: String): Unit = bos.write(
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // Sizes, computed inside-out (every chunk here has fixed size):
    val avihSz = 56; val strhSz = 56; val strfSz = 40
    val strlSz = 4 + (8 + strhSz) + (8 + strfSz)          // 'strl' + chunks
    val hdrlSz = 4 + (8 + avihSz) + (8 + strlSz)          // 'hdrl' + chunks
    // Each frame is one '00db' (uncompressed DIB) data chunk,
    // word-aligned like every RIFF chunk.
    val moviSz = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)          // 'AVI ' + lists
    tag("RIFF"); u32(riffSz); tag("AVI ")
    tag("LIST"); u32(hdrlSz); tag("hdrl")
    tag("avih"); u32(avihSz)
    u32(1000000L * fpsScale / fpsRate)                    // dwMicroSecPerFrame
    u32(0); u32(0); u32(0)                                // maxBytesPerSec/pad/flags
    u32(nFrames)                                          // dwTotalFrames
    u32(0); u32(1); u32(0)                                // initFrames/streams/sugBuf
    u32(width); u32(height)                               // dwWidth / dwHeight
    u32(0); u32(0); u32(0); u32(0)                        // dwReserved[4]
    tag("LIST"); u32(strlSz); tag("strl")
    tag("strh"); u32(strhSz)
    tag("vids"); tag("    ")          // fccType / fccHandler
    u32(0); u16(0); u16(0); u32(0)                        // flags/prio/lang/initFrames
    u32(fpsScale); u32(fpsRate)                           // dwScale / dwRate
    u32(0)                                                // dwStart
    u32(nFrames)                                          // dwLength
    u32(0); u32(0); u32(0)                                // sugBuf/quality/sampleSize
    u16(0); u16(0); u16(width); u16(height)               // rcFrame
    tag("strf"); u32(strfSz)
    // DIB rows pad to 4-byte boundaries: stride = ((w*bpp + 31) / 32) * 4.
    val stride = ((width.toLong * bitCount + 31) / 32) * 4
    u32(40); u32(width); u32(height)                      // BITMAPINFOHEADER
    u16(1); u16(bitCount)                                 // planes / bitCount
    u32(compression); u32(stride * height)                // compression / sizeImage
    u32(0); u32(0); u32(0); u32(0)                        // ppm x/y, clrUsed/Important
    tag("LIST"); u32(moviSz); tag("movi")
    frames.foreach { f =>
      // Uncompressed frames ship as '00db' (DIB) chunks, compressed
      // ones (e.g. MJPEG) as '00dc' — the actual AVI chunk-id contract.
      tag(if (compression == 0L) "00db" else "00dc"); u32(f.length)
      bos.write(f, 0, f.length)
      if ((f.length & 1) == 1) bos.write(0) // RIFF word alignment pad
    }
    bos.toByteArray
  }

  /** Deterministic JPEG encode at an explicit quality — the MJPEG
    * fixture's frame encoder (and the documented knob a real corpus
    * prep would use).
    */
  private def encodeJpeg(img: java.awt.image.BufferedImage,
                         quality: Float): Array[Byte] = {
    imageIoNoCache
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    try encodeJpegWith(writer, p, img)
    finally writer.dispose()
  }

  /** [[encodeJpeg]] against a CALLER-OWNED writer + param — the
    * per-task reuse shape (round-20): a kernel encoding thousands of
    * frames constructs the writer once per task instead of per frame
    * (275 → 209 µs/frame, bytes identical — same plugin, same param;
    * verified byte-for-byte in the JpegEncodeProbe). Writers are not
    * thread-safe, but a task is one thread; dispose is the caller's
    * concern (a leaked writer is plain heap, GC-collected).
    */
  private def encodeJpegWith(writer: javax.imageio.ImageWriter,
                             p: javax.imageio.ImageWriteParam,
                             img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally ios.close()
    bos.toByteArray
  }

  /** MOTION-JPEG video near-dup fixture — the compressed-codec twin of
    * [[syntheticVideoGroups]]: each id becomes a structurally-genuine
    * AVI whose single `00dc` frame is a REAL JPEG (biCompression
    * 'MJPG'), so only a decoder that routes compressed frame chunks
    * through an actual JPEG decode recovers the pixels. JPEG is lossy,
    * so unlike the DIB fixtures the pixel VALUES are not
    * replay-exact; the hash bits are made deterministic by
    * construction instead:
    *
    *  - 72 x 56 frames — each 9x7 dHash cell is exactly one 8x8 JPEG
    *    block, filled with a UNIFORM gray value (only the DC
    *    coefficient is nonzero, so decode error is bounded by DC
    *    quantization: ~±3 at quality 0.95, and blocks cannot ring
    *    into each other);
    *  - the designed cell value is `40·q + 20·((cx+cy)%2) + 20 + m`
    *    with `q = h60("mj:g:cx:cy") % 5` — ADJACENT cells always
    *    differ by ≥ 20 (the parity term breaks q-ties), an order of
    *    magnitude above the decode error, so every adjacent-cell
    *    comparison (= every hash bit) survives the lossy round-trip
    *    exactly;
    *  - group members differ only by the uniform `+m` shift — a
    *    re-encode whose perceptual hash is identical (the dHash
    *    shift-invariance), so intra-group pairs sit at hamming 0.
    *
    * An engine replaying `q` symbolically (h60 = md5-prefix, the repo
    * hash convention) reproduces every hash bit without decoding —
    * which is exactly what the DuckDB oracle does, while the Spark
    * side must genuinely parse the container AND decompress the JPEG.
    */
  def syntheticVideoGroupsMjpeg(df: DataFrame, idCol: String,
                                groupSize: Int = 4)
                               (implicit spark: SparkSession)
                               : Dataset[MediaRecord] = {
    require(groupSize >= 1, s"groupSize must be >= 1, got $groupSize")
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions { it =>
        imageIoNoCache
        // Per-TASK encoder state (round-20, measured byte-identical in
        // the JpegEncodeProbe): a fresh ImageIO writer per frame costs
        // 275 µs against 209 reused (plugin scan + construction), and
        // the 4k-pixel setRGB fill costs 83 µs against 17 via the
        // TYPE_INT_RGB raster's backing int array (same stored values
        // by construction — our pixels carry no alpha bits). Together
        // ~130 µs off a ~500 µs per-video kernel; the designed-cell
        // oracle replay pins the bytes' hash bits loud if either path
        // ever drifted.
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        val param = writer.getDefaultWriteParam
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(0.95f)
        it.map { id =>
          val g = id / groupSize
          val m = (id % groupSize).toInt
          val w = 72
          val h = 56
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val data = img.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferInt].getData
          var cy = 0
          while (cy < 7) {
            var cx = 0
            while (cx < 9) {
              val q = (TextOps.hash60Scala(s"mj:$g:$cx:$cy") % 5).toInt
              val v = 40 * q + 20 * ((cx + cy) % 2) + 20 + m
              val rgb = (v << 16) | (v << 8) | v
              var y = cy * 8
              while (y < cy * 8 + 8) {
                var x = cx * 8
                while (x < cx * 8 + 8) {
                  data(y * w + x) = rgb
                  x += 1
                }
                y += 1
              }
              cx += 1
            }
            cy += 1
          }
          MediaRecord(id, "video",
            syntheticAvi(w, h, fpsRate = 25, fpsScale = 1, nFrames = 1,
              bitCount = 24, compression = MjpgFourcc,
              frames = Seq(encodeJpegWith(writer, param, img))))
        }
      }
  }

  /** Video fixture generator over a plain id frame: every id becomes a
    * real AVI whose width / height / fps rational / frame count are
    * arithmetic in the id — recoverable only by a genuine RIFF walk
    * (the [[syntheticAudio]] playbook for the video container layer).
    */
  def syntheticVideo(df: DataFrame, idCol: String)
                    (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        // Pixel-format family by id, using genuine Windows BI_* pairings
        // (compression code, matching bit depth): 0 BI_RGB/24bpp,
        // 1 BI_RLE8/8bpp, 2 BI_RLE4/4bpp, 3 BI_BITFIELDS/32bpp — so the
        // strf fields are id-arithmetic-recoverable like the rest.
        val fam = (id % 4).toInt
        MediaRecord(id, "video",
          syntheticAvi(
            width = (160 + (id % 40) * 8).toInt,
            height = (120 + (id % 30) * 8).toInt,
            fpsRate = (10 + id % 50).toInt,
            fpsScale = (1 + id % 3).toInt,
            nFrames = (25 + id % 200).toInt,
            bitCount = fam match {
              case 0 => 24; case 1 => 8; case 2 => 4; case _ => 32
            },
            compression = fam.toLong))
      })
  }

  /** Deterministic real PNG fixture: `width`x`height` RGB with pixel
    * (x, y) a pure function of (id, x, y), encoded by the JVM's PNG
    * writer. The BYTES are encoder-version-dependent (never asserted);
    * the decoded DIMENSIONS are exact — which is what makes a
    * round-trip through [[decodeImage]] certify an actual decoder.
    */
  def syntheticPng(id: Long, width: Int, height: Int): Array[Byte] = {
    imageIoNoCache
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // Direct TYPE_INT_RGB raster fill (round-20): same stored pixel
    // values as setRGB — our values carry no alpha bits — at ~1/5 the
    // per-pixel cost. The PNG writer itself stays the stock
    // ImageIO.write: writer reuse measured a wash for PNG (82 vs
    // 81 µs — deflate dominates, not the plugin scan).
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        data(y * width + x) = ((id * 31 + x * 7 + y * 13) & 0xFFFFFF).toInt
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic real PCM WAV fixture: 16-bit signed little-endian,
    * `nFrames` frames of `channels` channels at `sampleRate` Hz, sample
    * (frame, ch) a pure function of (id, frame, ch), encoded by the
    * JVM's WAV writer. As with [[syntheticPng]], the BYTES are
    * encoder-dependent (never asserted); the container-parsed PROPERTIES
    * are exact — a round-trip through [[decodeAudio]] certifies an
    * actual decoder because the rate/channels/frames live only in the
    * RIFF header the decoder parses.
    */
  def syntheticWav(id: Long, sampleRate: Int, channels: Int,
                   nFrames: Int): Array[Byte] = {
    val data = new Array[Byte](nFrames * channels * 2)
    var f = 0
    while (f < nFrames) {
      var c = 0
      while (c < channels) {
        val s = ((id * 31 + f * 7 + c * 13) % 65536 - 32768).toShort
        val off = (f * channels + c) * 2
        data(off) = (s & 0xFF).toByte            // little-endian
        data(off + 1) = ((s >> 8) & 0xFF).toByte
        c += 1
      }
      f += 1
    }
    encodeWav(data, sampleRate, channels, nFrames.toLong)
  }

  /** Encode a PCM16 little-endian data section as WAV via the cached
    * writer provider (same lock-avoidance as [[decodeAudio]]).
    */
  private def encodeWav(data: Array[Byte], sampleRate: Int, channels: Int,
                        nFrames: Long): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames)
    val bos = new java.io.ByteArrayOutputStream()
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val w = audioWriters.find(_.isFileTypeSupported(wave, ais))
      .getOrElse(throw new IllegalStateException("no WAV writer on this JVM"))
    w.write(ais, wave, bos)
    bos.toByteArray
  }

  /** REAL audio resample (the payload analogue of [[frameSample]]'s
    * byte-range sub-sampling, done genuinely): decode the PCM16 frames, linear-
    * interpolate each channel onto the target rate's time grid, and
    * re-encode as WAV at `targetRate`. ALL arithmetic is exact integer
    * (output frame j samples source position j*src/target as a
    * rational; the interpolation `s0 + (s1-s0)*frac/target` uses
    * truncating integer division, which every engine reproduces), so a
    * re-decode of the output is bit-for-bit predictable from the input
    * samples — the property that makes a resample→energy pipeline
    * oracle-checkable end to end. Output frame count:
    * floor((nIn-1)*target/src) + 1 (the last source frame maps inside
    * the grid; no extrapolation ever happens).
    */
  def resampleAudio(r: MediaRecord, targetRate: Int): MediaRecord = {
    require(targetRate > 0, s"targetRate must be positive, got $targetRate")
    val (fmt, nFramesL, bytes) = readPcm16(r.payload, r.media_id)
    val srcRate = fmt.getSampleRate.toInt
    val ch = fmt.getChannels
    val nIn = nFramesL.toInt
    require(nIn > 0, s"empty audio payload for media_id=${r.media_id}")
    val big = fmt.isBigEndian
    val nOut = ((nIn.toLong - 1) * targetRate / srcRate).toInt + 1
    val out = new Array[Byte](nOut * ch * 2)
    var j = 0
    while (j < nOut) {
      val posNum = j.toLong * srcRate
      val p0 = (posNum / targetRate).toInt
      val frac = (posNum % targetRate).toInt
      var c = 0
      while (c < ch) {
        val s0 = pcm16At(bytes, p0 * ch + c, big)
        val s1 =
          if (p0 + 1 < nIn) pcm16At(bytes, (p0 + 1) * ch + c, big) else s0
        // Truncating division: JVM `/` == DuckDB `//` on negatives.
        val v = s0 + (((s1 - s0).toLong * frac) / targetRate).toInt
        val off = (j * ch + c) * 2
        out(off) = (v & 0xFF).toByte
        out(off + 1) = ((v >> 8) & 0xFF).toByte
        c += 1
      }
      j += 1
    }
    MediaRecord(r.media_id, r.modality, encodeWav(out, targetRate, ch, nOut.toLong))
  }

  /** Batched resample — the [[extractAudioFeatures]] kernel shape over
    * [[resampleAudio]]: per-partition streaming, codec state amortized
    * per batch, payloads shrink (or grow) BEFORE any shuffle touches
    * them.
    */
  def resampleAudioDs(ds: Dataset[MediaRecord], targetRate: Int,
                      batchSize: Int = 64): Dataset[MediaRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(mapBatched(_, batchSize)(resampleAudio(_, targetRate)))
  }

  /** Audio fixture generator over a plain id frame: every id becomes a
    * real PCM WAV whose sample rate / channel count / frame count are
    * arithmetic in the id — so a real container parse, and only a real
    * parse, reproduces them (payload byte length alone under-determines
    * the triple). Batched `mapPartitions`, no driver involvement.
    */
  def syntheticAudio(df: DataFrame, idCol: String)
                    (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRecord(id, "audio",
          syntheticWav(id,
            sampleRate = (8000 * (1 + id % 3)).toInt,
            channels = (1 + id % 2).toInt,
            nFrames = (200 + id % 300).toInt))
      })
  }

  /** Near-duplicate AUDIO fixture generator — the audio twin of
    * [[syntheticImageGroups]], with EXACTLY designed fingerprint bits:
    * consecutive `groupSize` ids share one base signal (mono PCM16 WAV,
    * [[AudioFpSegments]] segments of 64 frames each), whose per-segment
    * square-wave amplitude follows a ±64-step path directed by the
    * md5-derived group salt `h60('aud:' || g)` — so the envelope word's
    * bit t IS salt bit t — and whose per-segment period (2 or 4
    * samples) follows a second salt `h60('audp:' || g)` — so the
    * flux-ratio word's bit t is `pbit(t+1) && !pbit(t)` exactly
    * (D/E = 2·(2L/p − 1)/L depends only on the period, decoupled from
    * the amplitude path by construction). Member m inverts the
    * amplitude step at positions {13, 30, 47}[0 until min(m,3)];
    * amplitude-path comparisons are local to their step, so member
    * pairs (m, m') land at envelope hamming |min(m,3) − min(m',3)| and
    * flux hamming 0 — designed intra-group near-dups at distance ≤ 3,
    * while distinct groups hash ~uniformly at any corpus size (the
    * md5-salt lesson of the round-15 degeneracy fix). Every sample is
    * a pure integer function of (id), so an engine that replays the
    * arithmetic reproduces E[t] = 64·A[t] and D[t] = 2·A[t]·(2·64/p[t]
    * − 1) exactly — but only through a real WAV decode on the Spark
    * side, since the values live in the PCM data section. The sample
    * rate varies by group (8000·(1 + g % 3)) to exercise the container
    * parse; the fingerprint is rate-independent by design.
    */
  def syntheticAudioGroups(df: DataFrame, idCol: String, groupSize: Int = 4)
                          (implicit spark: SparkSession): Dataset[MediaRecord] = {
    require(groupSize >= 1, s"groupSize must be >= 1, got $groupSize")
    import spark.implicits._
    val T = AudioFpSegments
    val L = 64
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / groupSize
        val m = (id % groupSize).toInt
        val gs = TextOps.hash60Scala(s"aud:$g")
        val gs2 = TextOps.hash60Scala(s"audp:$g")
        val amp = new Array[Int](T)
        amp(0) = 4096
        var t = 0
        while (t < T - 1) {
          val bit = ((gs >> t) & 1L) == 1L
          val flip = (t == 13 || t == 30 || t == 47) &&
            (t - 13) / 17 < math.min(m, 3)
          amp(t + 1) = amp(t) + (if (bit ^ flip) 64 else -64)
          t += 1
        }
        val data = new Array[Byte](T * L * 2)
        t = 0
        while (t < T) {
          val p = if (((gs2 >> t) & 1L) == 1L) 2 else 4
          var i = 0
          while (i < L) {
            val s = if (i % p < p / 2) amp(t) else -amp(t)
            val off = (t * L + i) * 2
            data(off) = (s & 0xFF).toByte
            data(off + 1) = ((s >> 8) & 0xFF).toByte
            i += 1
          }
          t += 1
        }
        MediaRecord(id, "audio",
          encodeWav(data, (8000 * (1 + g % 3)).toInt, 1, (T * L).toLong))
      })
  }

  /** Media fixture generator over a plain id/text frame, exercising BOTH
    * kernel paths with oracle-predictable outputs: even ids become real
    * PNGs whose dimensions are arithmetic in the id (8 + id % 32 wide,
    * 8 + (id / 3) % 32 tall — so a real decode, and only a real decode,
    * reproduces them), odd ids become UTF-8 "video" payloads for the
    * documented stub path. Runs in the same batched `mapPartitions`
    * shape as the decode kernels (PNG encoding is the expensive step —
    * per-partition, streaming, no driver involvement).
    */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String)
                    (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        if (id % 2 == 0)
          MediaRecord(id, "image",
            syntheticPng(id, (8 + id % 32).toInt, (8 + (id / 3) % 32).toInt))
        else MediaRecord(id, "video", text.getBytes("UTF-8"))
      })
  }

  /** 48-bit avalanche mixer for the designed pixel fields — shifts,
    * adds, and xors only, so the DuckDB oracle replays it in exact
    * BIGINT arithmetic (no 64-bit wrap multiplies, which DuckDB
    * rejects). A single `v ^ (v >> 13)` (the pre-round-16 mix) does
    * NOT avalanche an ADDITIVE salt: cell AVERAGES over the linear
    * (x, y) field largely cancel it, so two groups sharing a (w, h)
    * class hashed into a ball around a class-center signature —
    * measured at sf10 as 4.10M cross-group same-class near-dup pairs
    * against 747k designed intra-group pairs (the
    * llm_video_dedup_clusters_wide 25-round non-convergence). The
    * shift-add stages are multiplies by 33 and 9 in disguise; composed
    * with three xorshifts they spread the salt across all 24 output
    * bits, decorrelating same-class groups (re-measured at sf10:
    * cross-group pair mass gone). SQL twin: the `m1/m2/m3` stages in
    * the LlmQueries pixel-chain CTEs — drift between the two renderings
    * is caught by every perceptual oracle row.
    */
  @inline private[llm] def mix48(v0: Long): Long = {
    val M = 0xFFFFFFFFFFFFL
    val v1 = (v0 ^ (v0 >> 13)) & M
    val v2 = (v1 + ((v1 << 5) & M)) & M
    val v3 = v2 ^ (v2 >> 11)
    val v4 = (v3 + ((v3 << 3) & M)) & M
    (v4 ^ (v4 >> 17)) & 0xFFFFFFL
  }

  /** Near-duplicate image fixture generator: consecutive `groupSize` ids
    * share one base image (dimensions and a xorshift-mixed pixel field
    * arithmetic in the GROUP id), and each member nudges the blue byte by
    * `3 * (id % groupSize)` with wraparound — a brightness-shifted
    * near-copy, the classic image near-dup case. dHashes within a group
    * land within a few bits (wrapped pixels move their cell averages
    * slightly); distinct groups hash ~uniformly. Every pixel is a pure
    * integer function of (id, x, y), so an engine that replays the
    * arithmetic reproduces the hashes exactly — but only through a real
    * PNG decode on the Spark side, since the values live in the pixels.
    */
  def syntheticImageGroups(df: DataFrame, idCol: String, groupSize: Int = 4)
                          (implicit spark: SparkSession): Dataset[MediaRecord] = {
    require(groupSize >= 1, s"groupSize must be >= 1, got $groupSize")
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions { it =>
        imageIoNoCache
        it.map { id =>
          val g = id / groupSize
          val m = id % groupSize
          // Per-group 60-bit md5 salt, not a linear multiple of g: linear
          // group mixes leave inter-group signatures correlated enough
          // that hash entropy stops growing with the corpus (the sf10
          // degeneracy BASELINE.md round-15 measured — structured
          // near-collisions chained ~the whole corpus); an md5-derived
          // salt keeps distinct groups ~uniform at any corpus size while
          // intra-group near-dup structure is untouched. The oracle
          // replays it as h60('img:' || g).
          val gs = TextOps.hash60Scala(s"img:$g")
          val w = (12 + g % 20).toInt
          val h = (10 + g % 15).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          // Direct raster fill — see syntheticPng: same stored values
          // as setRGB (no alpha bits in these pixels), ~1/5 the cost.
          val data = img.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferInt].getData
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val base = mix48(gs + x * 40503L + y * 70423L)
              val rgb = (base & 0xFFFF00L) | ((base + m * 3) & 0xFFL)
              data(y * w + x) = rgb.toInt
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaRecord(id, "image", bos.toByteArray)
        }
      }
  }

  /** Attach a binary payload column derived from a string column (UTF-8
    * bytes) — how the text fixtures stand in for media blobs in tests.
    */
  def payloadFromText(df: DataFrame, idCol: String, textCol: String,
                      modalityCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(modalityCol).as("modality"),
      encode(col(textCol), "UTF-8").as("payload"))

  def asMediaDataset(df: DataFrame)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.as[MediaRecord]
  }

  /** Byte-range "frame" sampling: every `stride`-th slice of `frameLen`
    * bytes, via `substring` on the binary column — pure column ops, no
    * decode, the pattern used to cheaply sub-sample video payloads before
    * a costly decode stage.
    */
  def frameSample(df: DataFrame, payloadCol: String, frameLen: Int,
                  nFrames: Int): DataFrame = {
    val frames = (0 until nFrames).map { f =>
      substring(col(payloadCol), f * frameLen + 1, frameLen).as(s"frame_$f")
    }
    df.select(col("*") +: frames: _*)
  }
}
