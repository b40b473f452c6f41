package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary`
 * columns with typed metadata structs, plus decode / feature-extract /
 * resize / frame-sample stages.
 *
 * Codecs: IMAGE rows decode through a real JVM codec
 * ([[ImageCodec]], javax.imageio — PNG/JPEG/BMP/GIF, built into every
 * JDK), AUDIO rows through a real one too ([[AudioCodec]],
 * javax.sound.sampled — WAV/AIFF/AU PCM), and animated GIF through the
 * multi-frame [[GifCodec]] — all headless, no native deps on executors.
 * Containers with no JVM-built-in decoder (mp4/mp3/flac …) route
 * through the PLUGGABLE [[MediaCodec]] contract: a deployment passes a
 * codec backed by a real library (an FFmpeg binding, say) and the
 * stages use it wherever it claims the container. With no codec
 * claiming a container the stages FAIL FAST by default — never silent
 * fake features for real media files; `fakeFallback = true` opts into
 * the deterministic stub (fixtures, plumbing tests). A container that
 * IS claimed but whose payload does not decode (corrupt file) falls
 * back to the deterministic fake rather than aborting a 100 TB job —
 * that boundary is deliberate and documented here.
 *
 * Scale notes: binary payloads stay columnar until the decode stage, the
 * decode runs per-partition (mapPartitions — one codec init per
 * partition, not per row), and metadata-only queries never touch the
 * bytes thanks to parquet column pruning.
 */
object Multimodal {

  /** Typed metadata carried next to each binary payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("format", StringType),       // jpeg | wav | mp4 ...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("sample_rate", IntegerType)))

  final case class MediaMeta(media_type: String, format: String, width: Int,
      height: Int, duration_ms: Long, sample_rate: Int)
  final case class MediaRow(media_id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class Feature(media_id: Long, feature: Array[Float])
  final case class Frame(media_id: Long, frame_idx: Int, payload: Array[Byte])

  /**
   * The pluggable decoder contract for containers the JDK cannot decode
   * (mp4, mp3, flac, webm …). A deployment implements it over a real
   * library (JavaCV / an FFmpeg CLI wrapper / a vendor SDK), passes it
   * to [[extractFeatures]] / [[sampleFrames]], and the stages route
   * every row whose `meta.format` the codec [[claims]]. Instances are
   * shipped to executors inside the stage closure, so they must be
   * Serializable; heavyweight native state should be lazy (initialized
   * once per executor JVM, not serialized).
   */
  trait MediaCodec extends Serializable {
    /** Lowercase container formats this codec claims (e.g. "mp4"). */
    def claims: Set[String]
    /** bytes → fixed-width feature vector; None when the payload does
     *  not decode under this codec. */
    def decodeToFeature(payload: Array[Byte], meta: MediaMeta, dim: Int): Option[Array[Float]]
    /** bytes → decoded frame payloads (for video containers); None when
     *  the payload does not decode. Default: this codec does not do
     *  frame extraction. */
    def frames(payload: Array[Byte], meta: MediaMeta): Option[IndexedSeq[Array[Byte]]] = None
  }

  /** Containers the JDK built-ins genuinely decode (feature stage). */
  private val builtinFeatureFormats: Map[String, Set[String]] = Map(
    "image" -> Set("png", "jpeg", "jpg", "bmp", "gif"),
    "audio" -> Set("wav", "wave", "aiff", "aif", "au"))

  private def unsupported(kind: String, r: MediaRow): Nothing =
    throw new UnsupportedOperationException(
      s"no $kind decoder for container '${r.meta.format}' " +
        s"(media_type=${r.meta.media_type}, media_id=${r.media_id}): pass a " +
        "MediaCodec claiming it (e.g. an FFmpeg-backed implementation), or " +
        "fakeFallback=true for deterministic stub output in tests/fixtures")

  /**
   * Deterministic fake codec: "decodes" a payload to a feature vector by
   * hashing byte windows. Stands in for a real image/audio decoder; the
   * signature (bytes + meta in, fixed-width float vector out) is the real
   * contract a vision/audio embedder would satisfy.
   */
  object FakeCodec {
    def decodeToFeature(payload: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        out(i % dim) += (payload(i) & 0xFF) / 255.0f
        i += 1
      }
      out
    }
    def frameOffsets(meta: MediaMeta, everyMs: Long): Seq[Long] =
      if (meta.duration_ms <= 0) Seq(0L)
      else 0L.until(meta.duration_ms, everyMs)
  }

  /**
   * Real image codec on the JDK's built-in javax.imageio readers
   * (PNG/JPEG/BMP/GIF) — works headless on any executor JVM, no native
   * libraries to deploy.
   */
  object ImageCodec {
    // ImageIO's convenience entry points wrap non-file streams in a
    // DISK-backed cache by default: every read/write creates (and
    // deletes) a temp file in java.io.tmpdir. All payloads here are
    // in-memory byte arrays a few KB long, so the disk round-trip is
    // pure overhead — and under local[32] the 32 concurrent tasks
    // contend on tmpdir creates. Measured on mm_gif_frames (218 docs ×
    // 3 frames, each frame one PNG write + one PNG read): disk cache
    // ~1.0 s, memory cache ~0.4 s. Each call site therefore hands
    // ImageIO an EXPLICIT MemoryCache image stream instead of flipping
    // the JVM-global ImageIO.setUseCache switch — the speedup stays
    // scoped to these known-small payloads and never silently changes
    // cache behavior for other ImageIO users in the same executor JVM.
    private[functions] def memIn(payload: Array[Byte]) =
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))

    /** bytes → image; None when the payload is not a decodable bitstream. */
    def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(memIn(payload)))
      catch { case _: java.io.IOException => None }

    /** Decode → fixed-width feature: mean luminance over a √dim × √dim
     *  grid, row-major, normalized to [0,1] — the classic tiny-thumbnail
     *  embedding. (Per-pixel getRGB is fine at thumbnail scale; a
     *  production embedder replaces this whole method anyway.) */
    def decodeToFeature(payload: Array[Byte], dim: Int): Option[Array[Float]] =
      decode(payload).map { img =>
        val grid = math.max(1, math.sqrt(dim.toDouble).toInt)
        val out = new Array[Float](dim)
        val cnt = new Array[Int](dim)
        val w = img.getWidth
        val h = img.getHeight
        var y = 0
        while (y < h) {
          val gy = y * grid / h
          var x = 0
          while (x < w) {
            val cell = gy * grid + x * grid / w
            if (cell < dim) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
              out(cell) += lum / 255.0f
              cnt(cell) += 1
            }
            x += 1
          }
          y += 1
        }
        var i = 0
        while (i < dim) { if (cnt(i) > 0) out(i) /= cnt(i); i += 1 }
        out
      }

    /** Real bilinear resize, re-encoded as PNG. */
    def resize(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
      decode(payload).map { img =>
        val scaled = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = scaled.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        pngBytes(scaled)
      }

    /** PNG-encode through an explicit memory-cached stream (see the
     *  object-header comment — avoids ImageIO's disk-cache default
     *  without touching the JVM-global switch). */
    private[functions] def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
      bos.toByteArray
    }
  }

  /**
   * Real audio codec on the JDK's built-in javax.sound.sampled readers
   * (WAV/AIFF/AU containers, PCM payloads) — headless, no native deps.
   * Anything else (mp3, flac …) falls through to the declared fake.
   */
  object AudioCodec {
    final case class AudioInfo(sampleRate: Int, channels: Int, frames: Long,
        durationMs: Long)

    /** bytes → (stream info, mono samples in [-1,1]); None when the
     *  payload is not a decodable audio container. Multi-channel input
     *  is converted to 16-bit PCM and mixed down to mono. */
    def decode(payload: Array[Byte]): Option[(AudioInfo, Array[Float])] = try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val src = in.getFormat
        val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels, src.getChannels * 2,
          src.getSampleRate, false)
        val pcm = AudioSystem.getAudioInputStream(fmt, in)
        try {
          val bytes = pcm.readAllBytes()
          val ch = fmt.getChannels
          val nFrames = bytes.length / (2 * ch)
          val mono = new Array[Float](nFrames)
          var i = 0
          while (i < nFrames) {
            var c = 0
            var acc = 0.0f
            while (c < ch) {
              val o = (i * ch + c) * 2
              acc += (((bytes(o) & 0xFF) | (bytes(o + 1) << 8)).toShort) / 32768.0f
              c += 1
            }
            mono(i) = acc / ch
            i += 1
          }
          val rate = fmt.getSampleRate.toInt
          Some((AudioInfo(rate, ch, nFrames.toLong,
            if (rate > 0) nFrames.toLong * 1000 / rate else 0L), mono))
        } finally pcm.close()
      } finally in.close()
    } catch { case _: Exception => None }

    /** Decode → fixed-width feature: RMS energy over `dim` equal time
     *  windows — the classic audio-thumbnail embedding contract. */
    def decodeToFeature(payload: Array[Byte], dim: Int): Option[Array[Float]] =
      decode(payload).map { case (_, mono) =>
        val out = new Array[Float](dim)
        val cnt = new Array[Int](dim)
        var i = 0
        while (i < mono.length) {
          val w = math.min(dim - 1, (i.toLong * dim / math.max(1, mono.length)).toInt)
          out(w) += mono(i) * mono(i)
          cnt(w) += 1
          i += 1
        }
        var j = 0
        while (j < dim) {
          if (cnt(j) > 0) out(j) = math.sqrt(out(j) / cnt(j)).toFloat
          j += 1
        }
        out
      }
  }

  /**
   * Feature extraction stage: per-partition batched decode (the shape a
   * vectorized/pandas-style UDF runs under — one codec per partition,
   * rows streamed through it). Routing per row:
   *   1. a plugged [[MediaCodec]] claiming the container wins;
   *   2. otherwise JDK built-ins (javax.imageio images, javax.sound
   *      WAV/AIFF/AU audio);
   *   3. a CLAIMED container whose payload doesn't decode (corrupt
   *      file) falls back to the deterministic fake — a 100 TB job
   *      shouldn't abort on one bad file;
   *   4. an UNCLAIMED container fails fast — no silent fake features
   *      for real media — unless `fakeFallback = true` (fixtures).
   */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 64,
      codecs: Seq[MediaCodec] = Nil, fakeFallback: Boolean = false): Dataset[Feature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // a stateful codec/embedder initializes ONCE here, per partition
      it.map { r =>
        val fmt = Option(r.meta.format).map(_.toLowerCase).getOrElse("")
        val plugged = codecs.find(_.claims.contains(fmt))
        val feat = plugged match {
          case Some(c) =>
            c.decodeToFeature(r.payload, r.meta, dim)
              .getOrElse(FakeCodec.decodeToFeature(r.payload, dim)) // corrupt payload
          case None if builtinFeatureFormats.get(r.meta.media_type).exists(_.contains(fmt)) =>
            (r.meta.media_type match {
              case "image" => ImageCodec.decodeToFeature(r.payload, dim)
              case "audio" => AudioCodec.decodeToFeature(r.payload, dim)
              case _ => None
            }).getOrElse(FakeCodec.decodeToFeature(r.payload, dim)) // corrupt payload
          case None if fakeFallback => FakeCodec.decodeToFeature(r.payload, dim)
          case None => unsupported("feature", r)
        }
        Feature(r.media_id, feat)
      }
    }
  }

  /**
   * Real multi-frame codec for animated GIF — the one video-ish container
   * the JDK decodes natively (ImageReader.getNumImages/read over the
   * frame sequence). Each frame is re-encoded as PNG.
   */
  object GifCodec {
    // Explicit memory-cached streams, same rationale as ImageCodec's
    // header comment: payloads are small in-memory byte arrays, and the
    // JVM-global ImageIO.setUseCache switch must stay untouched.
    def frames(payload: Array[Byte]): Option[IndexedSeq[Array[Byte]]] = try {
      val in = ImageCodec.memIn(payload)
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(in)
        val n = reader.getNumImages(true)
        if (n <= 0) None
        else Some((0 until n).map(i => ImageCodec.pngBytes(reader.read(i))))
      } finally reader.dispose()
    } catch { case _: Exception => None }
  }

  /**
   * Frame sampling for video rows: one output row per sampled time
   * offset (`everyMs` apart across `duration_ms`). Animated-GIF rows
   * decode REAL frames via the JDK (offset mapped proportionally onto
   * the frame sequence, re-encoded PNG); other containers (mp4, webm …)
   * route through a plugged [[MediaCodec]] claiming them, and with no
   * claimant the stage fails fast — `fakeFallback = true` keeps the
   * declared 16-byte stub payload for fixtures. A claimed-but-corrupt
   * payload also degrades to the stub (same boundary as
   * [[extractFeatures]]).
   */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long = 1000,
      codecs: Seq[MediaCodec] = Nil, fakeFallback: Boolean = false): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.media_type == "video").flatMap { r =>
      val offsets = FakeCodec.frameOffsets(r.meta, everyMs)
      val fmt = Option(r.meta.format).map(_.toLowerCase).getOrElse("")
      val plugged = codecs.find(_.claims.contains(fmt))
      val decoded: Option[IndexedSeq[Array[Byte]]] = plugged match {
        case Some(c) => c.frames(r.payload, r.meta) // None = corrupt payload
        case None if fmt == "gif" => GifCodec.frames(r.payload)
        case None if fakeFallback => None
        case None => unsupported("frame", r)
      }
      decoded match {
        case Some(fr) if fr.nonEmpty =>
          offsets.zipWithIndex.map { case (off, idx) =>
            val fi = math.min(fr.length - 1,
              (off * fr.length / math.max(1L, r.meta.duration_ms)).toInt)
            Frame(r.media_id, idx, fr(fi))
          }
        case _ =>
          offsets.zipWithIndex.map { case (_, idx) =>
            Frame(r.media_id, idx, r.payload.take(16)) // stub frame payload
          }
      }
    }
  }

  /**
   * Resize stage for image rows: decodable images go through the REAL
   * javax.imageio bilinear scaler (re-encoded as PNG, metadata rewritten);
   * non-decodable image payloads keep the deterministic byte-subsample
   * stub; non-images pass through untouched.
   */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      if (r.meta.media_type != "image") r
      else ImageCodec.resize(r.payload, w, h) match {
        case Some(bytes) =>
          r.copy(payload = bytes,
            meta = r.meta.copy(format = "png", width = w, height = h))
        case None =>
          val stride = math.max(1, r.payload.length / math.max(1, (w * h) / 64))
          val scaled = r.payload.indices.by(stride).map(r.payload).toArray
          r.copy(payload = scaled, meta = r.meta.copy(width = w, height = h))
      }
    }
  }

  /**
   * Deterministic, HAND-WRITTEN container byte layouts — no encoder
   * library involved for BMP/WAV, so payload bytes are bit-identical on
   * every JVM. They exist so the decode stages can be verified
   * CROSS-ENGINE: a query builds payloads from table keys on the
   * executors, decodes them through the REAL JDK codecs, and an
   * independent SQL engine recomputes the expected feature values
   * arithmetically from the same keys (the `mm_*` oracles in
   * SparkEntry). Pixel/sample values are chosen so every float step in
   * the decode is exact or safely inside a rounding margin — see each
   * oracle's comment.
   */
  object Containers {
    /** 24-bit uncompressed BMP (54-byte header, bottom-up rows, BGR,
     *  4-byte row padding). `gray(x, y)` ∈ [0,256) is pixel (x,y)'s
     *  grayscale value; r=g=b=v makes the decoder's integer luminance
     *  (299r+587g+114b)/1000 exactly v. */
    def grayBmp(w: Int, h: Int)(gray: (Int, Int) => Int): Array[Byte] = {
      val rowBytes = (w * 3 + 3) / 4 * 4
      val dataSize = rowBytes * h
      val b = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = h - 1 // bottom-up row order
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val v = (gray(x, y) & 0xFF).toByte
          b.put(v).put(v).put(v) // B G R
          x += 1
        }
        var pad = w * 3
        while (pad < rowBytes) { b.put(0.toByte); pad += 1 }
        y -= 1
      }
      b.array()
    }

    /** Canonical 44-byte-header RIFF/WAVE, 16-bit PCM little-endian mono. */
    def pcmWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      val dataSize = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes(ascii)).putInt(36 + dataSize).put("WAVE".getBytes(ascii))
      b.put("fmt ".getBytes(ascii)).putInt(16).putShort(1).putShort(1)
      b.putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      b.put("data".getBytes(ascii)).putInt(dataSize)
      samples.foreach(b.putShort)
      b.array()
    }

    /** Solid-gray animated GIF, one `wh`×`wh` frame per entry of `grays`.
     *  Frames are TYPE_BYTE_INDEXED over an explicit single-gray palette,
     *  so palettization is EXACT by construction (the writer ships the
     *  palette verbatim); the byte layout is the JDK writer's, but the
     *  oracles pin decoded pixel VALUES, never container bytes. */
    def solidGif(wh: Int, grays: Seq[Int]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        grays.foreach { g =>
          val v = (g & 0xFF).toByte
          val cm = new java.awt.image.IndexColorModel(8, 2,
            Array[Byte](v, 0), Array[Byte](v, 0), Array[Byte](v, 0))
          val img = new java.awt.image.BufferedImage(wh, wh,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          // raster defaults to index 0 = the gray; no per-pixel writes needed
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
  }

  /** Metadata-only projection — must prune the binary column at scan time. */
  def metaOnly(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("meta.*"))

  /** Deterministic synthetic media table (for tests; payload derived from id). */
  def synthetic(spark: org.apache.spark.sql.SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val bytes = Array.tabulate[Byte](64 + (id % 64).toInt)(i => ((id * 31 + i) % 251).toByte)
      val mt = (id % 3) match {
        case 0 => MediaMeta("image", "jpeg", 640, 480, 0L, 0)
        case 1 => MediaMeta("audio", "wav", 0, 0, 4000L + id % 1000, 16000)
        case _ => MediaMeta("video", "mp4", 1280, 720, 5000L + id % 2000, 0)
      }
      MediaRow(id, bytes, mt)
    }
  }
}
