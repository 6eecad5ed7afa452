package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines (engine extension; the reference has no analogue — this is
  * the brief's multimodal mandate).
  *
  * Payloads are opaque `BINARY` columns with typed metadata. The codecs
  * are REAL JDK codecs — `javax.imageio.ImageIO` for PNG frames and
  * `javax.sound.sampled.AudioSystem` for 16-bit PCM WAV — so the decoded
  * numerics (dimensions, per-channel pixel means, sample statistics) are
  * verifiable end to end. Test/demo payloads are synthesized from pure
  * integer formulas of `doc_id` ([[pixel]], [[audioSample]]), encoded
  * through the real encoder, and decoded back through the real decoder;
  * because PNG and PCM WAV are lossless, an independent oracle can
  * recompute the exact expected statistics from the same formulas without
  * ever touching the binary.
  *
  * Scale posture: binary payloads are large → keep them out of shuffles.
  * Synthesis and decode/feature-extract run map-side on the scan
  * partition (`spark.sql.files.maxPartitionBytes` bounds task input);
  * only the small per-asset stat rows flow downstream. Codec state that
  * needs init (none for ImageIO/AudioSystem statics) would amortize
  * per-partition in the `mapPartitions` shape used here.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache — a temp file created
  // and deleted per encode/decode call, which dominates the cost of
  // codec work on small frames. These payloads are in-memory byte
  // arrays; cache in memory. Object init runs once per executor JVM.
  ImageIO.setUseCache(false)

  // --- deterministic synthesis parameters (pure functions of doc_id) ----
  // The q34/q35 oracles recompute expected stats from these same integer
  // formulas in SQL; keep them in sync with SparkEntry's oracle strings.

  /** Image width for a doc: 4..16. */
  def imgWidth(docId: Long): Int = 4 + (docId % 13).toInt

  /** Image height for a doc: 4..10. */
  def imgHeight(docId: Long): Int = 4 + (docId % 7).toInt

  /** Pixel value for channel c (0=R,1=G,2=B) at (x, y) of frame `frame`. */
  def pixel(docId: Long, frame: Int, c: Int, x: Int, y: Int): Int =
    ((docId * (c + 1) + frame * 11L + x * 3L + y * 7L) % 256L).toInt

  /** Audio sample count for a doc: 64..113. */
  def audioSamples(docId: Long): Int = 64 + (docId % 50).toInt

  /** Signed 16-bit sample i in [−1000, 1000]. */
  def audioSample(docId: Long, i: Int): Int =
    (((docId * 31L + i * 17L) % 2001L) - 1000L).toInt

  /** Video frame count for a doc: 3..12 (so maxFrames caps some). */
  def videoFrames(docId: Long): Int = 3 + (docId % 10).toInt

  /** One stored video frame per second. */
  val FrameMs = 1000L

  val SampleRate = 16000

  private val VideoMagic = Array[Byte]('G', 'F', 'V', '1')

  // --- encoders (real JDK codecs; used by synthesis and tests) ----------

  /** Deterministic PNG: pixel (x,y,c) = [[pixel]](docId, frame, c, x, y),
    * encoded with `ImageIO.write` (lossless). */
  def encodePng(docId: Long, frame: Int): Array[Byte] = {
    val w = imgWidth(docId); val h = imgHeight(docId)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = pixel(docId, frame, 0, x, y)
        val g = pixel(docId, frame, 1, x, y)
        val b = pixel(docId, frame, 2, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic JPEG: the SAME synthesis pixels as [[encodePng]],
    * written through an explicit `ImageWriter` at `quality` — the lossy
    * leg of the image corpus (real crawl images are overwhelmingly
    * JPEG). The ENCODE is deterministic (same JVM, same input, same
    * params → same bytes), but decoded pixels are DECODER-defined, so
    * the oracle strategy differs from PNG's exact q34 synthesis replay:
    * oracles assert decoder-independent facts (dimensions, tolerance
    * bounds — the q141 bound pattern) and the spec gates bit-parity of
    * [[decodeImage]] against a directly-driven `ImageIO.read` of the
    * same bytes. */
  def encodeJpeg(docId: Long, frame: Int,
                 quality: Float = 0.9f): Array[Byte] = {
    val w = imgWidth(docId); val h = imgHeight(docId)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = pixel(docId, frame, 0, x, y)
        val g = pixel(docId, frame, 1, x, y)
        val b = pixel(docId, frame, 2, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val ios = ImageIO.createImageOutputStream(bos) // memory-backed: cache off
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Deterministic 16-bit mono PCM WAV via `AudioSystem.write`. */
  def encodeWav(docId: Long): Array[Byte] = {
    val n = audioSamples(docId)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSample(docId, i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Video container: `GFV1` magic, int32 frame count, then per frame
    * an int32 length + PNG bytes. A length-indexed layout so frame seek
    * is a skip, not a parse. */
  def encodeVideo(docId: Long): Array[Byte] = {
    val nf = videoFrames(docId)
    val bos = new ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(VideoMagic)
    out.writeInt(nf)
    var f = 0
    while (f < nf) {
      val png = encodePng(docId, f)
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  // --- decoders (real JDK codecs) ---------------------------------------

  /** Decoded image statistics: dimensions, exact integer channel sums,
    * and per-channel means (each an exact integer sum divided ONCE, so an
    * independent oracle's `avg` over the same integers agrees
    * bit-for-bit). */
  final case class ImageStats(width: Int, height: Int,
                              sumR: Long, sumG: Long, sumB: Long) {
    private def n = (width.toLong * height).toDouble
    def meanR: Double = sumR / n
    def meanG: Double = sumG / n
    def meanB: Double = sumB / n
    /** Mean over all three channels as one division — NOT the mean of the
      * three per-channel means, which differs in the last ulp. */
    def meanAll: Double = (sumR + sumG + sumB) / (3.0 * width * height)
  }

  /** Real PNG/BMP/GIF/JPEG decode via `ImageIO.read` (the format sniffs
    * from the payload bytes — callers never route by codec).
    *
    * CODEC BOUNDARY (documented, not silent): the JDK's ImageIO ships
    * NO WebP/AVIF/HEIC decoder, so the lossy leg of the multimodal
    * pipeline is JPEG-only in this build. A WebP payload ("RIFF" +
    * "WEBP" at offset 8) is detected explicitly and fails with a
    * descriptive error naming the remedy (register a TwelveMonkeys /
    * libwebp-backed ImageIO plugin on the cluster classpath — ImageIO
    * discovers readers via the service loader, so this method then
    * works unchanged) instead of ImageIO's opaque null. */
  def decodeImage(bytes: Array[Byte]): ImageStats = {
    if (bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'E' &&
        bytes(10) == 'B' && bytes(11) == 'P')
      throw new IllegalArgumentException(
        "WebP payload detected: the JDK ships no WebP ImageIO reader. " +
          "Register a WebP-capable ImageIO plugin (e.g. TwelveMonkeys) " +
          "on the executor classpath; ImageIO's service loader then " +
          "routes it through this same decode path.")
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "ImageIO could not decode payload")
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    ImageStats(w, h, sr, sg, sb)
  }

  /** Decoded audio statistics over the 16-bit PCM samples. */
  final case class AudioStats(nSamples: Int, mean: Double,
                              meanAbs: Double, rms: Double)

  /** Real WAV decode via `AudioSystem.getAudioInputStream`. */
  def decodeWav(bytes: Array[Byte]): AudioStats = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected 16-bit mono PCM, got $fmt")
      val pcm = in.readAllBytes()
      val n = pcm.length / 2
      var sum = 0L; var sumAbs = 0L; var sumSq = 0L
      var i = 0
      while (i < n) {
        // little-endian signed 16-bit
        val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
        sum += s
        sumAbs += math.abs(s)
        sumSq += s.toLong * s
        i += 1
      }
      val d = math.max(n, 1).toDouble
      AudioStats(n, sum / d, sumAbs / d, math.sqrt(sumSq / d))
    } finally in.close()
  }

  /** Frame count of a GFV1 container (header read only — no decode). */
  def videoFrameCount(bytes: Array[Byte]): Int = {
    require(bytes.length >= 8 && bytes(0) == 'G' && bytes(1) == 'F' &&
      bytes(2) == 'V' && bytes(3) == '1', "not a GFV1 container")
    ((bytes(4) & 0xff) << 24) | ((bytes(5) & 0xff) << 16) |
      ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
  }

  /** Seek to frame `idx` (length-skips, no decode of earlier frames) and
    * ImageIO-decode it. */
  def decodeVideoFrame(bytes: Array[Byte], idx: Int): ImageStats =
    decodeImage(videoFramePng(bytes, idx))

  /** Raw PNG bytes of frame `idx` of a GFV1 container (length-indexed
    * walk — skips, no decode, until the requested frame). */
  def videoFramePng(bytes: Array[Byte], idx: Int): Array[Byte] = {
    val nf = videoFrameCount(bytes)
    require(idx >= 0 && idx < nf, s"frame $idx out of 0..${nf - 1}")
    val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
    in.skipBytes(8)
    var f = 0
    while (f < idx) {
      val len = in.readInt()
      in.skipBytes(len)
      f += 1
    }
    val len = in.readInt()
    val png = new Array[Byte](len)
    in.readFully(png)
    png
  }

  /** Frame-sample positions for a video payload: every `everyMs`
    * milliseconds across `durationMs`, capped at `maxFrames`. */
  def framePositions(durationMs: Long, everyMs: Long,
                     maxFrames: Int = 32): Seq[Long] =
    (0L until durationMs by math.max(1L, everyMs)).take(maxFrames)

  // --- Spark plumbing ---------------------------------------------------

  /** Synthesize an asset table from a `documents`-shaped frame: modality
    * routed by doc_id % 3 (0→image, 1→audio, 2→video), payload a REAL
    * encoded PNG / WAV / GFV1 container. Map-side (`mapPartitions`); the
    * binary is born on the scan partition and never shuffles. */
  def synthesizeAssets(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("modality", StringType),
      StructField("payload", BinaryType),
      StructField("meta", StructType(Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("sample_rate", IntegerType),
        StructField("duration_ms", LongType),
        StructField("n_frames", IntegerType),
        StructField("codec", StringType))))))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    docs.select(col("doc_id"))
      // spread the codec work: the scan often lands on one or two input
      // splits while the per-row encode dominates; an ids-only
      // round-robin repartition (8 bytes/row) distributes it across
      // every core at any scale before the heavy bytes are born
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        (id % 3) match {
          case 0 =>
            Row(id, "image", encodePng(id, 0),
              Row(imgWidth(id), imgHeight(id), 0, 0L, 1, "png"))
          case 1 =>
            val n = audioSamples(id)
            Row(id, "audio", encodeWav(id),
              Row(n, 1, SampleRate, n * 1000L / SampleRate, 0, "pcm_s16le"))
          case _ =>
            val nf = videoFrames(id)
            Row(id, "video", encodeVideo(id),
              Row(imgWidth(id), imgHeight(id), 0, nf * FrameMs, nf, "gfv1"))
        }
      }
    }
  }

  /** [[synthesizeAssets]] with a MIXED image corpus — every other image
    * asset (doc_id % 6 == 0) encodes JPEG at `quality` instead of PNG
    * (meta.codec says which): the real crawl regime, where the lossy
    * codec dominates and the perceptual pipeline must not care. Same
    * schema, same modality routing, binary still born on the scan
    * partition. */
  def synthesizeAssetsMixed(docs: DataFrame,
                            quality: Float = 0.9f): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("modality", StringType),
      StructField("payload", BinaryType),
      StructField("meta", StructType(Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("sample_rate", IntegerType),
        StructField("duration_ms", LongType),
        StructField("n_frames", IntegerType),
        StructField("codec", StringType))))))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    val q = quality
    docs.select(col("doc_id"))
      // spread the codec work: the scan often lands on one or two input
      // splits while the per-row encode dominates; an ids-only
      // round-robin repartition (8 bytes/row) distributes it across
      // every core at any scale before the heavy bytes are born
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        (id % 3) match {
          case 0 =>
            if (id % 6 == 0)
              Row(id, "image", encodeJpeg(id, 0, q),
                Row(imgWidth(id), imgHeight(id), 0, 0L, 1, "jpeg"))
            else
              Row(id, "image", encodePng(id, 0),
                Row(imgWidth(id), imgHeight(id), 0, 0L, 1, "png"))
          case 1 =>
            val n = audioSamples(id)
            Row(id, "audio", encodeWav(id),
              Row(n, 1, SampleRate, n * 1000L / SampleRate, 0, "pcm_s16le"))
          case _ =>
            val nf = videoFrames(id)
            Row(id, "video", encodeVideo(id),
              Row(imgWidth(id), imgHeight(id), 0, nf * FrameMs, nf, "gfv1"))
        }
      }
    }
  }

  /** Decode + feature-extract with the REAL codecs: one stat row per
    * asset, unified schema across modalities —
    * image/video(frame 0): (width, height, meanR, meanG, meanB);
    * audio: (n_samples, 1, mean, mean|s|, rms).
    * Decode runs map-side where the binary lives; only the small stat
    * rows flow downstream. */
  def extractFeatures(assets: DataFrame,
                      payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("modality", StringType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("m0", DoubleType),
      StructField("m1", DoubleType),
      StructField("m2", DoubleType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets.select(col("asset_id"), col("modality"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getAs[Long]("asset_id")
          val mod = r.getAs[String]("modality")
          val payload = r.getAs[Array[Byte]](payloadCol)
          mod match {
            case "image" =>
              val s = decodeImage(payload)
              Row(id, mod, s.width.toLong, s.height.toLong,
                s.meanR, s.meanG, s.meanB)
            case "audio" =>
              val s = decodeWav(payload)
              Row(id, mod, s.nSamples.toLong, 1L, s.mean, s.meanAbs, s.rms)
            case _ =>
              val s = decodeVideoFrame(payload, 0)
              Row(id, mod, s.width.toLong, s.height.toLong,
                s.meanR, s.meanG, s.meanB)
          }
        }
      }
  }

  /** Nearest-neighbor image resize + re-extract: decode, sample the
    * source at (⌊X·w/W⌋, ⌊Y·h/H⌋) for each target pixel (X, Y), emit the
    * resized dimensions and exact channel means of the RESIZED image.
    * The sampling rule is explicit (not Graphics2D, whose interpolation
    * is implementation-defined) so an independent oracle can recompute
    * the expected stats from the synthesis formulas. Applies to image
    * assets; map-side like every decode here. */
  def resizeImages(assets: DataFrame, targetW: Int, targetH: Int,
                   payloadCol: String = "payload"): DataFrame = {
    require(targetW > 0 && targetH > 0)
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("m0", DoubleType),
      StructField("m1", DoubleType),
      StructField("m2", DoubleType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets.filter(col("modality") === "image")
      .select(col("asset_id"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = ImageIO.read(new ByteArrayInputStream(
            r.getAs[Array[Byte]](payloadCol)))
          require(img != null, "ImageIO could not decode payload")
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < targetH) {
            val sy = y * h / targetH
            var x = 0
            while (x < targetW) {
              val sx = x * w / targetW
              val rgb = img.getRGB(sx, sy)
              sr += (rgb >> 16) & 0xff
              sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          val n = (targetW.toLong * targetH).toDouble
          Row(r.getAs[Long]("asset_id"), targetW.toLong, targetH.toLong,
            sr / n, sg / n, sb / n)
        }
      }
  }

  /** Frame-level audio features: the decoded PCM stream split into
    * fixed-size sample frames (default 160 = 10 ms at 16 kHz), one row
    * per frame with its exact mean and RMS; a trailing partial frame is
    * emitted with its true sample count. The explode happens after the
    * map-side decode — binary never shuffles. */
  def audioFrames(assets: DataFrame, frameSamples: Int = 160,
                  payloadCol: String = "payload"): DataFrame = {
    require(frameSamples > 0)
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("frame_idx", LongType),
      StructField("n_samples", LongType),
      StructField("mean", DoubleType),
      StructField("rms", DoubleType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets.filter(col("modality") === "audio")
      .select(col("asset_id"), col(payloadCol))
      .flatMap { r =>
        val id = r.getAs[Long]("asset_id")
        val in = AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(r.getAs[Array[Byte]](payloadCol)))
        val pcm = try in.readAllBytes() finally in.close()
        val n = pcm.length / 2
        (0 until (n + frameSamples - 1) / frameSamples).map { f =>
          val lo = f * frameSamples
          val hi = math.min(lo + frameSamples, n)
          var sum = 0L; var sumSq = 0L
          var i = lo
          while (i < hi) {
            val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8))
              .toShort.toInt
            sum += s
            sumSq += s.toLong * s
            i += 1
          }
          val cnt = (hi - lo).toDouble
          Row(id, f.toLong, (hi - lo).toLong, sum / cnt,
            math.sqrt(sumSq / cnt))
        }
      }
  }

  /** Video frame sampling: one row per sampled position with that frame's
    * REAL decoded stats. Sampling positions come from the metadata
    * (`meta.duration_ms`), the stored frame for position `ms` is
    * `ms / FrameMs`; the explode happens AFTER the map-side decode, so
    * the binary never shuffles. */
  def sampleFrames(assets: DataFrame, everyMs: Long = 1000L,
                   maxFrames: Int = 32): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("frame_ms", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("mean_all", DoubleType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets
      .filter(col("modality") === "video")
      .select(col("asset_id"), col("payload"),
        col("meta.duration_ms").as("duration_ms"))
      .flatMap { r =>
        val id = r.getAs[Long]("asset_id")
        val payload = r.getAs[Array[Byte]]("payload")
        val dur = Option(r.getAs[Any]("duration_ms"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val nf = videoFrameCount(payload)
        framePositions(dur, everyMs, maxFrames).map { ms =>
          val idx = math.min((ms / FrameMs).toInt, nf - 1)
          val s = decodeVideoFrame(payload, idx)
          Row(id, ms, s.width.toLong, s.height.toLong, s.meanAll)
        }
      }
  }

  /** 56-bit difference hash (dHash) of a decoded image: sample an 8×8
    * luma grid nearest-neighbor (src = (⌊x·w/8⌋, ⌊y·h/8⌋), clamped —
    * the same explicit sampling rule as [[resizeImages]], not
    * Graphics2D, so an oracle can recompute it), then bit (y·7+x) = 1
    * iff luma(x+1, y) > luma(x, y) for x < 7. Luma is the raw R+G+B
    * sum — comparing sums orders identically to comparing means and
    * stays in exact integer arithmetic. 56 bits (7 comparisons × 8
    * rows) rather than the classic 9×8→64 keeps the fingerprint below
    * the sign bit in every engine's signed 64-bit integer (the SimHash
    * 60-bit portable trade). Gradient signs survive brightness/contrast
    * shifts and re-encodes that byte-level hashing can't see. */
  def dhash56(payload: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "ImageIO could not decode payload")
    val w = img.getWidth; val h = img.getHeight
    val lum = Array.ofDim[Int](8, 8)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val sx = math.min(x * w / 8, w - 1)
        val sy = math.min(y * h / 8, h - 1)
        val rgb = img.getRGB(sx, sy)
        lum(x)(y) = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
          (rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    var fp = 0L
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 7) {
        if (lum(x + 1)(y) > lum(x)(y)) fp |= 1L << (y * 7 + x)
        x += 1
      }
      y += 1
    }
    fp
  }

  /** Per-image [[dhash56]] fingerprints as (id, fp) — decode runs
    * map-side on the scan partition; only 16 bytes per image flow
    * downstream (the multimodal binary-never-shuffles rule). */
  def imageDhash(assets: DataFrame,
                 payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("fp", LongType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets.filter(col("modality") === "image")
      .select(col("asset_id"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getAs[Long]("asset_id"),
          dhash56(r.getAs[Array[Byte]](payloadCol))))
      }
  }

  /** Perceptual image near-dup pairs: [[imageDhash]] →
    * [[graft.dedup.Dedup.hammingCandidates]] (the same Manku banded
    * join as text SimHash, over 56-bit fingerprints). Returns
    * (id_a, id_b, hamming ≤ maxHamming).
    *
    * PAIR output is quadratic in perceptual-duplicate density by
    * definition (the 10x probe: pairs grew ~100x on a gradient-heavy
    * synthetic corpus, runtime 24x — sub-linear per pair but still
    * output-bound). Tuning/verification regime, like [[graft.dedup
    * .Dedup.ngramJaccard]]; the dedup SCALE path is [[imageDupGroups]],
    * which collapses identical fingerprints without pair expansion. */
  def imageNearDup(assets: DataFrame, maxHamming: Int = 3,
                   payloadCol: String = "payload"): DataFrame =
    graft.dedup.Dedup.hammingCandidates(imageDhash(assets, payloadCol),
      maxHamming, fpBits = 56)

  /** Exact perceptual image dedup: group identical [[dhash56]]
    * fingerprints, keep the min-id member — the production image-dedup
    * shape (repeated logos/banners/thumbnails collapse to one keeper no
    * matter how many million copies exist). Returns per-image
    * (id, fp, keep_id, is_keeper, n_images).
    *
    * Scale shape: map-side decode+hash, then ONLY (id, fp) longs shuffle
    * — the digest-only-shuffle rule of text exact dedup; group size
    * never expands into pairs, so a million-copy logo costs one
    * aggregation row, not 10¹² pair rows. */
  def imageDupGroups(assets: DataFrame,
                     payloadCol: String = "payload"): DataFrame =
    fpDupGroups(imageDhash(assets, payloadCol), "n_images")

  /** [[imageDupGroups]] for audio: identical [[audioDhash56]] envelope
    * fingerprints collapse to a min-id keeper. Same digest-only shuffle. */
  def audioDupGroups(assets: DataFrame,
                     payloadCol: String = "payload"): DataFrame =
    fpDupGroups(audioDhash(assets, payloadCol), "n_assets")

  /** NOTE: caches the fingerprint frame for the duration of the query
    * (both sides of the keeper join read it); callers own release —
    * `spark.catalog.clearCache()` or unpersist when done, the same
    * contract as [[graft.ml.Similarity.allPairsTopK]] and the Dedup pair
    * generators (the Bench/Verify harnesses clear between queries). */
  private def fpDupGroups(fpsIn: DataFrame, countName: String): DataFrame = {
    // without persisting, the keeper aggregation AND the join-back each
    // re-execute the full decode+hash lineage (every payload decoded
    // twice)
    val fps = fpsIn.cache() // reused by both sides of the keeper join
    val keep = fps.groupBy("fp")
      .agg(min("id").as("keep_id"), count(lit(1)).as(countName))
    fps.join(keep, "fp")
      .select(col("id"), col("fp"), col("keep_id"),
        (col("id") === col("keep_id")).as("is_keeper"), col(countName))
  }

  /** 56-bit audio difference hash: the time-domain analogue of
    * [[dhash56]]. The PCM stream splits into 57 contiguous windows
    * (sample i belongs to window ⌊i·57/n⌋ — the per-sample rule an
    * oracle reproduces exactly), per-window energy = Σ|s| in exact
    * integer arithmetic, bit w = 1 iff energy(w+1) > energy(w). The
    * loudness-ENVELOPE shape is what survives: uniform gain g > 0
    * scales every window energy by g and flips no comparison, so the
    * fingerprint is gain-invariant by construction — re-encoded or
    * re-normalized copies of a clip collapse to the same hash where
    * byte-level digests see different files. */
  def audioDhash56(payload: Array[Byte]): Long = {
    val in = AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(payload))
    val pcm = try in.readAllBytes() finally in.close()
    val n = pcm.length / 2
    val e = new Array[Long](57)
    var i = 0
    while (i < n) {
      val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
      e((i.toLong * 57 / n).toInt) += math.abs(s)
      i += 1
    }
    var fp = 0L
    var w = 0
    while (w < 56) {
      if (e(w + 1) > e(w)) fp |= 1L << w
      w += 1
    }
    fp
  }

  /** Per-asset [[audioDhash56]] fingerprints as (id, fp) — map-side
    * decode, 16 bytes per clip downstream. */
  def audioDhash(assets: DataFrame,
                 payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("fp", LongType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets.filter(col("modality") === "audio")
      .select(col("asset_id"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getAs[Long]("asset_id"),
          audioDhash56(r.getAs[Array[Byte]](payloadCol))))
      }
  }

  /** Per-FRAME [[dhash56]] fingerprints of every video asset:
    * (id, frame, fp) — the content-ID primitive. ONE sequential
    * container walk per video map-side (length-indexed reads, no
    * per-frame re-skip — O(nf), not O(nf²)); 20 bytes per frame flow
    * downstream, the payload never shuffles. */
  def videoDhash(assets: DataFrame,
                 payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame", IntegerType),
      StructField("fp", LongType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    assets.filter(col("modality") === "video")
      .select(col("asset_id"), col(payloadCol))
      .flatMap { r =>
        val id = r.getAs[Long]("asset_id")
        val payload = r.getAs[Array[Byte]](payloadCol)
        val nf = videoFrameCount(payload)
        val in = new java.io.DataInputStream(
          new ByteArrayInputStream(payload))
        in.skipBytes(8)
        (0 until nf).map { f =>
          val len = in.readInt()
          val png = new Array[Byte](len)
          in.readFully(png)
          Row(id, f, dhash56(png))
        }
      }
  }

  /** Content-ID video matching: pairs of videos sharing at least
    * `minSharedFrames` DISTINCT frame fingerprints — snippet/re-upload
    * detection by frame-hash containment, not whole-file digests. One
    * distinct (id, fp) projection, an fp-keyed self-join (identical
    * frames collapse per video first), one pair-counting aggregation.
    *
    * Per-fp fanout is quadratic in how many videos contain that frame,
    * so a frame shared corpus-wide (an intro/outro card, a network
    * logo slate) would make one hot key O(V²). `maxDf` caps that: any
    * fingerprint appearing in more than `maxDf` distinct videos is
    * dropped before the self-join — the same groupBy-count + broadcast
    * anti-join shape as [[graft.dedup.Dedup.ngramJaccard]] (a window
    * over fp would re-create the very skew the cap prevents; hot
    * frames are few by definition, so the anti-join side is tiny).
    * Such frames are uninformative for matching anyway — a shared
    * intro card is not evidence two videos share content. Pass
    * `maxDf >= Int.MaxValue` to disable (and skip the extra
    * aggregation); at 100 TB always keep a cap.
    *
    * Caches the distinct (id, fp) frame — BEFORE the hot-frame cap, so
    * the payload decode (the dominant cost) runs exactly once whether or
    * not the cap is active: the hot-frame count, the anti-join, and both
    * self-join sides all read the cache (the capped branch recomputes
    * only the cheap broadcast anti-join per consumer, never the decode).
    * Callers own release (the [[graft.ml.Similarity.allPairsTopK]]
    * contract). */
  def videoNearDupByFrame(assets: DataFrame, minSharedFrames: Int = 1,
                          payloadCol: String = "payload",
                          maxDf: Int = 1000): DataFrame = {
    require(minSharedFrames >= 1)
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val distinctFrames = videoDhash(assets, payloadCol)
      .select(col("id"), col("fp")).distinct()
      .cache()
    val vf = if (maxDf >= Int.MaxValue) distinctFrames
      else {
        val hot = distinctFrames.groupBy("fp").count()
          .filter(col("count") > maxDf).select("fp")
        distinctFrames.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    val a = vf.select(col("fp"), col("id").as("id_a"))
    val b = vf.select(col("fp"), col("id").as("id_b"))
    a.join(b, "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }
}
