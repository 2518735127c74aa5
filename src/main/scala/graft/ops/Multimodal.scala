package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted in batched executor-side passes.
  *
  * The Spark-side contract is real and tested — schema, partition-local
  * batched execution (`mapPartitions`, the Scala analog of `mapInPandas`),
  * deterministic output shape. IMAGE decode is REAL ([[decodeImage]]:
  * the JDK's bundled javax.imageio codecs — PNG/JPEG/GIF/BMP — pixel
  * dimensions + grid-luma features). AUDIO decode is REAL
  * ([[decodeAudioSamples]]: the JDK's bundled javax.sound.sampled codecs
  * — WAV/AIFF/AU PCM — stride-capped mono samples feeding RMS/peak/
  * silence stats and an RMS-envelope feature vector). Only compressed
  * VIDEO decode stays STUBBED (`decodeStub` — no video codec ships with
  * the JDK): a deterministic fake feature vector from the payload bytes.
  * Swapping in a real video decoder changes only the function body, not
  * the plumbing.
  *
  * Scale posture: payloads stay on executors end to end (no collect); the
  * decode pass is partition-local with zero shuffle; feature vectors are
  * fixed-size `array<float>` ready for [[Similarity]] ANN; metadata-only
  * queries (byte_len, digest) never deserialize the payload column thanks
  * to parquet column pruning.
  */
object Multimodal {

  val MetaType: StructType = StructType(Seq(
    StructField("byte_len", LongType, nullable = false),
    StructField("sha256", StringType, nullable = false),
    StructField("modality", StringType, nullable = false)))

  /** Attach a binary payload + metadata struct to a documents-like frame
    * (text re-encoded as utf-8 bytes stands in for real media bytes).
    * Pure projection: encode/sha2/octet_length are codegen'd.
    */
  def withPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("meta", struct(
        octet_length(col(textCol)).cast(LongType).as("byte_len"),
        sha2(col(textCol).cast(BinaryType), 256).as("sha256"),
        lit("text").as("modality")))

  /** REAL image metadata from header bytes (no codec): attach
    * struct(format, width, height) sniffed from PNG/JPEG/GIF/BMP headers
    * ([[graft.functions.ImageDims]], a codegen'd expression) — null for
    * unrecognized payloads. At 100 TB this reads a few hundred bytes per
    * row and never decodes pixels; aspect/size filtering and dims+digest
    * dedup run on it directly.
    */
  def withImageMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame =
    df.withColumn("image_meta", graft.functions.ImageDims(col(payloadCol)))

  /** REAL audio metadata from container headers (WAV fmt/data chunks,
    * FLAC STREAMINFO — [[graft.functions.AudioMeta]]): channels, sample
    * rate, bit depth, derived duration. Length filtering and hour-count
    * accounting over an audio corpus without decoding a sample.
    */
  def withAudioMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame =
    df.withColumn("audio_meta", graft.functions.AudioMeta(col(payloadCol)))

  val FeatureDim = 16

  /** REAL image decode via the JDK's bundled codecs (javax.imageio ships
    * PNG/JPEG/GIF/BMP readers — no external libraries): actual pixel
    * dimensions plus a [[FeatureDim]]-long feature vector = mean luma
    * (Rec.601) over a 4x4 spatial grid, each cell in [0, 1] — the
    * standard cheap perceptual signature for dedup blocking and
    * brightness/blank-image filtering.
    *
    * Pixel cost is capped: the luma pass stride-samples at most 64x64
    * pixel positions regardless of image size, so a 100-megapixel photo
    * costs the same scan as a thumbnail (decode itself is codec-bound).
    * Returns None when ImageIO has no reader for the bytes (non-image
    * modality or corrupt payload) — callers fall back to the stub.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val grid = 4 // FeatureDim = grid * grid
        val sums = new Array[Double](grid * grid)
        val counts = new Array[Long](grid * grid)
        // ceil division: h/64 under-strides (h=127 -> step 1 -> 127
        // positions, ~4x the documented 64-per-axis cap on the hot
        // decode path); (h+63)/64 keeps positions <= 64 exactly
        val stepY = math.max(1, (h + 63) / 64)
        val stepX = math.max(1, (w + 63) / 64)
        var y = 0
        while (y < h) {
          val gy = math.min(grid - 1, y * grid / h)
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            val cell = gy * grid + math.min(grid - 1, x * grid / w)
            sums(cell) += luma
            counts(cell) += 1
            x += stepX
          }
          y += stepY
        }
        val feats = Array.tabulate(FeatureDim) { i =>
          if (counts(i) == 0) 0.0f else (sums(i) / counts(i) / 255.0).toFloat
        }
        Some((w, h, feats))
      }
    } catch {
      // NonFatal only: a decompression-bomb OOM or StackOverflow must FAIL
      // the task, not silently fall back to fabricated stub features
      case scala.util.control.NonFatal(_) => None
    }

  /** Bit-exact image grid-luma: the INTEGER-arithmetic twin of
    * [[decodeImage]]'s float feature pass, built so an oracle can
    * re-derive the features from the pixel formula alone (the image
    * analog of the audio-stats bit-exact proof). Per stride-sampled
    * pixel, luma is the integer 299·R + 587·G + 114·B (the BT.601
    * weights ×1000 — no float accumulates anywhere); per 4×4 cell the
    * Long sum and count reduce to ONE double division,
    * sum / (count · 255000), so the value is identical however the
    * pixels were ordered. Same stride cap as the float pass (≤64
    * positions per axis). None for undecodable payloads.
    */
  def imageGridLuma(payload: Array[Byte]): Option[(Int, Int, Array[Double])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val grid = 4
        val sums = new Array[Long](grid * grid)
        val counts = new Array[Long](grid * grid)
        // ceil division: h/64 under-strides (h=127 -> step 1 -> 127
        // positions, ~4x the documented 64-per-axis cap on the hot
        // decode path); (h+63)/64 keeps positions <= 64 exactly
        val stepY = math.max(1, (h + 63) / 64)
        val stepX = math.max(1, (w + 63) / 64)
        var y = 0
        while (y < h) {
          val gy = math.min(grid - 1, y * grid / h)
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma1000 = 299 * ((rgb >> 16) & 0xFF) +
              587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)
            val cell = gy * grid + math.min(grid - 1, x * grid / w)
            sums(cell) += luma1000
            counts(cell) += 1
            x += stepX
          }
          y += stepY
        }
        val feats = Array.tabulate(grid * grid) { i =>
          if (counts(i) == 0) 0.0 else sums(i).toDouble / (counts(i) * 255000.0)
        }
        Some((w, h, feats))
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Attach the bit-exact grid ([[imageGridLuma]]) as
    * width / height / grid(16 doubles) columns — partition-local decode,
    * payloads never leave the executor. Null struct fields for
    * undecodable rows.
    */
  def withImageGrid(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val outSchema = df.schema
      .add("width", IntegerType).add("height", IntegerType)
      .add("grid", ArrayType(DoubleType, containsNull = false))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        imageGridLuma(r.getAs[Array[Byte]](idx)) match {
          case Some((w, h, g)) => Row.fromSeq(r.toSeq ++ Seq(w, h, g.toSeq))
          case None            => Row.fromSeq(r.toSeq ++ Seq(null, null, null))
        }
      }
    }(enc)
  }

  /** Lossless PNG around a computed RGB raster — the synth side of the
    * image path (specs + oracle queries manufacture decodable payloads
    * from a pure integer pixel formula; PNG round-trips 24-bit RGB
    * exactly, so [[imageGridLuma]] sees the formula's values verbatim).
    */
  def synthPng(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Decoded PCM audio: format facts plus a stride-capped mono sample
    * series (normalized to [-1, 1), at most [[AudioSampleBudget]] kept
    * samples regardless of clip length).
    */
  final case class AudioDecoded(sampleRate: Int, channels: Int,
                                frames: Long, samples: Array[Float])

  /** Cap on KEPT samples per clip: stats cost is bounded no matter how
    * long the audio runs (the decode itself is codec-bound, like the
    * image path's pixel-stride cap vs its decode).
    */
  val AudioSampleBudget: Int = 1 << 16

  /** REAL audio decode via the JDK's bundled `javax.sound.sampled`
    * codecs (WAV/AIFF/AU, PCM + a-law/µ-law — no external libraries):
    * converts to signed 16-bit PCM, mixes channels to mono (mean), and
    * keeps every stride-th frame so at most `budget` samples survive.
    * Each kept sample is `shortValue / 32768.0f` — EXACT in float (a
    * 16-bit integer times a power of two), which is what lets downstream
    * stats be reproduced bit-for-bit by an integer-arithmetic oracle.
    * None when the payload has no audio reader (other modality, corrupt
    * bytes, or a compressed codec the JDK lacks) — callers fall back to
    * the stub.
    */
  def decodeAudioSamples(payload: Array[Byte],
                         budget: Int = AudioSampleBudget): Option[AudioDecoded] =
    try {
      val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val src = raw.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels,
          src.getChannels * 2, src.getSampleRate, false)
        val pcm =
          if (src.matches(target)) raw
          else javax.sound.sampled.AudioSystem.getAudioInputStream(target, raw)
        val ch = target.getChannels
        val bytesPerFrame = ch * 2
        val known = pcm.getFrameLength // -1 when the container omits it
        // Unknown-length streams start at stride 1 and RE-STRIDE
        // geometrically: when the budget fills, the stride doubles and
        // every other kept sample is dropped (the survivors are exactly
        // the frames the doubled stride would have kept), so kept samples
        // stay spread over the WHOLE clip instead of only its head —
        // rms/peak/silence must describe the clip, not its first seconds.
        var stride =
          if (known > 0) math.max(1L, (known + budget - 1) / budget) else 1L
        // known-length clips size the buffer to what will actually be
        // kept (a short clip must not pay a budget-sized allocation per
        // row); only the unknown-length re-stride path needs the full
        // budget-sized array
        val kept = new Array[Float](
          if (known > 0) math.min(budget.toLong, known).toInt.max(1)
          else math.max(budget, 1))
        val buf = new Array[Byte](bytesPerFrame * 1024)
        var frameIdx = 0L
        var keptCount = 0
        var filled = 0 // bytes of a partial frame carried across reads
        var eof = false
        // run to EOF even once the sample budget fills — `frames` must be
        // the clip's true length (duration accounting), not where we quit
        while (!eof) {
          val n = pcm.read(buf, filled, buf.length - filled)
          if (n < 0) eof = true
          else {
            val avail = filled + n
            val frames = avail / bytesPerFrame
            var f = 0
            while (f < frames) {
              if (frameIdx % stride == 0) {
                if (keptCount >= kept.length) {
                  if (known > 0) () // fixed stride: budget can't overflow
                  else {
                    var i = 0
                    while (2 * i < keptCount) { kept(i) = kept(2 * i); i += 1 }
                    keptCount = i
                    stride *= 2
                  }
                }
                if (keptCount < kept.length && frameIdx % stride == 0) {
                  var sum = 0L
                  var c = 0
                  while (c < ch) {
                    val off = f * bytesPerFrame + c * 2
                    // little-endian signed 16-bit (we forced the format)
                    sum += ((buf(off) & 0xFF) | (buf(off + 1) << 8)).toShort
                    c += 1
                  }
                  kept(keptCount) = (sum.toDouble / ch / 32768.0).toFloat
                  keptCount += 1
                }
              }
              frameIdx += 1
              f += 1
            }
            val consumed = frames * bytesPerFrame
            filled = avail - consumed
            if (filled > 0) System.arraycopy(buf, consumed, buf, 0, filled)
          }
        }
        Some(AudioDecoded(target.getSampleRate.toInt, ch, frameIdx,
          java.util.Arrays.copyOf(kept, keptCount)))
      } finally raw.close()
    } catch {
      // NonFatal only — same policy as decodeImage
      case scala.util.control.NonFatal(_) => None
    }

  /** Real-audio flavor of the decode contract: (sampleRate, channels,
    * [[FeatureDim]] temporal RMS-envelope bins each in [0, 1]) — the
    * audio analog of the image path's 4x4 luma grid, the cheap signature
    * for silence/clipping filters and coarse acoustic dedup blocking.
    */
  def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    decodeAudioSamples(payload).map { a =>
      val n = a.samples.length
      val feats = new Array[Float](FeatureDim)
      if (n > 0) {
        val sums = new Array[Double](FeatureDim)
        val counts = new Array[Long](FeatureDim)
        var i = 0
        while (i < n) {
          val bin = math.min(FeatureDim - 1, (i.toLong * FeatureDim / n).toInt)
          val s = a.samples(i).toDouble
          sums(bin) += s * s
          counts(bin) += 1
          i += 1
        }
        var b = 0
        while (b < FeatureDim) {
          if (counts(b) > 0) feats(b) = math.sqrt(sums(b) / counts(b)).toFloat
          b += 1
        }
      }
      (a.sampleRate, a.channels, feats)
    }

  val AudioStatsType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_s", DoubleType),
    StructField("rms", DoubleType),
    StructField("peak", DoubleType),
    StructField("silence_ratio", DoubleType)))

  /** Sample-level stats for one decodable clip: RMS, peak, and the
    * fraction of samples under the |s| < 0.01 silence threshold — the
    * corpus-curation trio (drop silent clips, flag clipped ones, weight
    * by loudness). All three are exact-rational arithmetic over the
    * 16-bit integers behind the normalized samples (sums of k²·2⁻³⁰
    * terms are exact in double up to the sample budget), so a DuckDB
    * oracle regenerating the same PCM reproduces them bit-for-bit.
    */
  def audioStats(payload: Array[Byte]): Option[Row] =
    decodeAudioSamples(payload).map { a =>
      val n = a.samples.length
      var sumSq = 0.0
      var peak = 0.0
      var silent = 0L
      var i = 0
      while (i < n) {
        val s = a.samples(i).toDouble
        sumSq += s * s
        val abs = math.abs(s)
        if (abs > peak) peak = abs
        if (abs < 0.01) silent += 1
        i += 1
      }
      Row(a.sampleRate, a.channels, a.frames,
        a.frames.toDouble / a.sampleRate,
        if (n == 0) 0.0 else math.sqrt(sumSq / n),
        peak,
        if (n == 0) 0.0 else silent.toDouble / n)
    }

  /** Partition-local batched audio-stats pass: adds a nullable
    * `audio_stats` struct ([[AudioStatsType]]) — null for payloads the
    * JDK can't decode. The sample-decoding twin of [[withAudioMeta]]'s
    * header-only parse.
    */
  def withAudioStats(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val outSchema = df.schema.add("audio_stats", AudioStatsType, nullable = true)
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val stats = audioStats(r.getAs[Array[Byte]](idx)).orNull
        Row.fromSeq(r.toSeq :+ stats)
      }
    }(enc)
  }

  /** Minimal RIFF/WAVE container around 16-bit little-endian PCM
    * (`samples` interleaved when `channels` > 1) — the synth side of the
    * audio path, used by specs and the oracle query to manufacture
    * decodable payloads from pure integers.
    */
  def synthWav(sampleRate: Int, samples: Array[Short],
               channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort) // PCM
      .putInt(sampleRate).putInt(sampleRate * 2 * channels)
      .putShort((2 * channels).toShort).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** STUB decoder: stands in for compressed audio/VIDEO decode + feature
    * extraction (those codecs are not in the JDK — images and PCM audio
    * take the real paths above). Deterministic fake: feature i = byte at
    * stride i scaled to [0, 1); "width"/"height" derived from the byte
    * length. The signature and batch shape are the real contract.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val n = payload.length
    val width = math.max(1, n % 640)
    val height = math.max(1, (n * 7) % 480)
    val feats = Array.tabulate(FeatureDim) { i =>
      if (n == 0) 0.0f
      else (payload((i.toLong * n / FeatureDim).toInt % n) & 0xFF) / 256.0f
    }
    (width, height, feats)
  }

  /** Partition-local batched decode pass: payload → (width, height,
    * features). Image payloads take the REAL [[decodeImage]] path (JDK
    * ImageIO: PNG/JPEG/GIF/BMP), audio payloads the REAL [[decodeAudio]]
    * path (javax.sound.sampled: WAV/AIFF/AU, reporting (sampleRate,
    * channels) in the two int slots); only compressed video falls back
    * to [[decodeStub]]. Runs once per row inside `mapPartitions` so
    * per-partition decoder state (ImageIO reader cache) is initialized
    * once per task, exactly like `mapInPandas` batches.
    */
  def decodeFeatures(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val outSchema = df.schema
      .add("width", IntegerType).add("height", IntegerType)
      .add("features", ArrayType(FloatType, containsNull = false))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // ImageIO scans for plugin readers on first use; disk-cache off
      // keeps the per-task decode purely in-memory
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val (w, h, f) = decodeImage(payload)
          .orElse(decodeAudio(payload))
          .getOrElse(decodeStub(payload))
        Row.fromSeq(r.toSeq ++ Seq(w, h, f))
      }
    }(enc)
  }

  /** STUB resize: stands in for image resize/transcode. Deterministic
    * fake: stride-samples the payload down to ~`targetBytes` (keeps the
    * first byte, then every ceil(n/targetBytes)-th). The real contract is
    * the shape: payload in → smaller payload out, partition-local.
    */
  def resizeStub(payload: Array[Byte], targetBytes: Int): Array[Byte] = {
    val n = payload.length
    if (n <= targetBytes) payload
    else {
      val stride = math.ceil(n.toDouble / targetBytes).toInt
      val out = new Array[Byte]((n + stride - 1) / stride)
      var i = 0
      while (i < out.length) { out(i) = payload(i * stride); i += 1 }
      out
    }
  }

  /** Partition-local batched resize pass: rewrites the payload column in
    * place (same schema out), decoder/encoder state initialized once per
    * task — the write-side twin of [[decodeFeatures]].
    */
  def resizePayloads(df: DataFrame, targetBytes: Int,
                     payloadCol: String = "payload"): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(df.schema)
    df.mapPartitions { rows =>
      // real transcoder: initialize codec context here, once per partition
      rows.map { r =>
        val resized = resizeStub(r.getAs[Array[Byte]](idx), targetBytes)
        Row.fromSeq(r.toSeq.updated(idx, resized))
      }
    }(enc)
  }

  /** REAL image resize via the JDK alone: ImageIO decode (PNG/JPEG/GIF/
    * BMP), bilinear Graphics2D scale of the longest side down to
    * `maxDim` (aspect preserved, never upscales), PNG re-encode.
    * None when the payload has no ImageIO reader — callers fall back to
    * the byte-stride stub (audio/video modalities).
    */
  def resizeImage(payload: Array[Byte], maxDim: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else if (math.max(img.getWidth, img.getHeight) <= maxDim) Some(payload)
      else {
        val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
        val nw = math.max(1, math.round(img.getWidth * scale).toInt)
        val nh = math.max(1, math.round(img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(
          nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        // SRC_OVER onto a zero-initialized INT_RGB raster composites
        // transparent PNG/GIF regions onto BLACK — a transparent-
        // background logo would come out solid black and its luma
        // features near zero. Fill white first (the print/web default
        // for flattening alpha) so transparency reads as background.
        g.setColor(java.awt.Color.WHITE)
        g.fillRect(0, 0, nw, nh)
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, nw, nh, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch {
      // NonFatal only: a decompression-bomb OOM or StackOverflow must FAIL
      // the task, not silently fall back to fabricated stub features
      case scala.util.control.NonFatal(_) => None
    }

  /** Partition-local REAL image-resize pass: decodable image payloads are
    * scaled to fit `maxDim` and re-encoded ([[resizeImage]]); payloads
    * ImageIO can't read fall back to the byte-stride stub with a
    * `maxDim*maxDim` byte budget. Headless AWT runs fine in executors —
    * no display, no native codecs needed.
    */
  def resizeImages(df: DataFrame, maxDim: Int,
                   payloadCol: String = "payload"): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(df.schema)
    df.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val p = r.getAs[Array[Byte]](idx)
        val resized = resizeImage(p, maxDim).getOrElse(resizeStub(p, maxDim * maxDim))
        Row.fromSeq(r.toSeq.updated(idx, resized))
      }
    }(enc)
  }

  /** Frame sampling stub for video-like payloads: pick `n` deterministic
    * byte offsets (frame anchors) per payload; one output row per frame —
    * a generator (explode) over a computed offsets array, no UDF.
    */
  def sampleFrames(df: DataFrame, n: Int, payloadCol: String = "payload"): DataFrame = {
    // sequence(0, n-1) with n <= 0 is a DESCENDING sequence (the
    // Dedup.shinglesRaw pitfall) — bogus negative-offset frames, not an
    // empty set; reject the geometry loudly
    require(n >= 1, s"need n >= 1 frames per payload, got $n")
    df
      .withColumn("__len", octet_length(col(payloadCol)).cast(LongType))
      .withColumn("frame_no", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("frame_offset", floor(col("frame_no") * col("__len") / n))
      .drop("__len")
  }
}
