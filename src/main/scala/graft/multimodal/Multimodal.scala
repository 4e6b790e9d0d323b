package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for training-data pipelines — SURVEY §7.1
  * step 7 ("multimodal columns").
  *
  * Media payloads are opaque `binary` columns beside a typed metadata
  * struct; decode / feature-extract run as per-partition batch transforms
  * over the typed Dataset (the JVM analog of Python's mapInPandas: one
  * task processes a partition's rows as a batch, heavy codec state is
  * initialized once per partition, not per row).
  *
  * The IMAGE path is a REAL codec: [[ImageCodec]] sniffs the container
  * from magic bytes and decodes PNG/JPEG payloads with `javax.imageio`
  * (in every JDK — no new dependency), extracting width/height/mime in
  * the per-partition batch transform ([[decodeImages]]). The AUDIO path
  * is likewise REAL: [[AudioCodec]] sniffs RIFF/WAVE magic and decodes
  * WAV payloads with `javax.sound.sampled` (also in every JDK),
  * extracting sample rate / channels / duration ([[decodeAudio]]).
  * VIDEO is REAL for the one container a bare JDK can honestly handle
  * — MJPEG-in-AVI, whose frames are complete JPEGs behind a public
  * RIFF chunk layout ([[VideoCodec]]: frame extraction, decode,
  * sampling) — while inter-frame codecs (H.264 …) have no pure-JVM
  * decoder and keep the deterministic [[FakeCodec]] stub behind the
  * same spec'd plumbing. The Spark-side contract — schema,
  * partitioning, batch shape, null behavior — is identical across all
  * modalities and tested (MultimodalSpec).
  */
object Multimodal {

  /** A media row: payload + typed metadata (never parse metadata out of
    * the binary on the analytical path — it must prune independently). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),          // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
      StructField("mime", StringType))))))

  case class MediaMeta(width: Option[Int], height: Option[Int],
                       duration_ms: Option[Long], mime: Option[String])
  case class MediaRow(media_id: Long, kind: String,
                      payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String,
                           n_bytes: Long, checksum: Long, feature: Array[Float])

  /** Deterministic fake decode: byte-sum checksum + an 8-dim "embedding"
    * derived from byte histogram buckets. Stands in for a real
    * image/audio decoder (`???` territory — see object scaladoc). */
  object FakeCodec {
    def features(payload: Array[Byte]): (Long, Array[Float]) = {
      if (payload == null) return (0L, Array.fill(8)(0f))
      var sum = 0L
      val hist = new Array[Float](8)
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xff
        sum += b
        hist(b % 8) += 1f
        i += 1
      }
      (sum, hist)
    }
  }

  /** Real JVM image decode. Stateless object methods so the expensive
    * bits (reader lookup, no-cache mode) configure once per PARTITION in
    * [[decodeImages]], never per row. */
  object ImageCodec {
    /** Container sniff from magic bytes — never decodes, so it is safe
      * on arbitrary junk and cheap enough for a pre-filter column. */
    def sniffMime(p: Array[Byte]): Option[String] =
      if (p == null || p.length < 4) None
      else if ((p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte &&
        p(2) == 'N'.toByte && p(3) == 'G'.toByte) Some("image/png")
      else if ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 &&
        (p(2) & 0xff) == 0xff) Some("image/jpeg")
      else None

    /** Decode payload bytes → (width, height, mime); None for non-image
      * or corrupt payloads (a 100 TB crawl always contains both — decode
      * failure must be data, not an exception). */
    def decode(p: Array[Byte]): Option[(Int, Int, String)] =
      sniffMime(p).flatMap { mime =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          if (img == null) None else Some((img.getWidth, img.getHeight, mime))
        } catch {
          // NonFatal, not just IOException: ImageIO plugins throw
          // unchecked exceptions (IllegalArgumentException, CMMException,
          // NegativeArraySizeException on absurd header dims) on corrupt
          // bodies whose magic bytes pass the sniff — those are data too,
          // and one such row must not kill the task
          case scala.util.control.NonFatal(_) => None
        }
      }

    /** Box-averaged Rec.601 luminance grid (gw × gh, row-major) over the
      * decoded pixels — the deterministic downscale perceptual hashing
      * needs: pure integer bucketing + double means, no Graphics2D
      * interpolation whose kernel could vary across JDK image pipelines.
      * Cells inherit ceil/floor pixel spans via index scaling, so any
      * image size ≥ grid size works; smaller images repeat pixels. */
    private[multimodal] def luminanceGrid(
        img: java.awt.image.BufferedImage, gw: Int, gh: Int): Array[Double] = {
      val w = img.getWidth; val h = img.getHeight
      val grid = new Array[Double](gw * gh)
      var gy = 0
      while (gy < gh) {
        val y0 = gy * h / gh; val y1 = math.max((gy + 1) * h / gh, y0 + 1)
        var gx = 0
        while (gx < gw) {
          val x0 = gx * w / gw; val x1 = math.max((gx + 1) * w / gw, x0 + 1)
          var sum = 0.0; var n = 0
          var y = y0
          while (y < y1 && y < h) {
            var x = x0
            while (x < x1 && x < w) {
              val rgb = img.getRGB(x, y)
              sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
                0.114 * (rgb & 0xff)
              n += 1; x += 1
            }
            y += 1
          }
          grid(gy * gw + gx) = if (n == 0) 0.0 else sum / n
          gx += 1
        }
        gy += 1
      }
      grid
    }

    /** Average hash: 8×8 luminance grid, bit i set iff cell i exceeds
      * the grid mean — the classic aHash. None when the payload doesn't
      * decode. Robust to re-encode/resize/brightness-preserving noise;
      * a 1-pixel perturbation moves one cell's mean by ~Δ/cellPx and
      * typically flips 0 bits (MultimodalSpec pins the planted case). */
    def aHash(p: Array[Byte]): Option[Long] =
      decodeImage(p).map { img =>
        val g = luminanceGrid(img, 8, 8)
        val mean = g.sum / g.length
        var bits = 0L
        var i = 0
        while (i < 64) { if (g(i) > mean) bits |= (1L << i); i += 1 }
        bits
      }

    /** Difference hash: 9×8 luminance grid, bit (row, col) set iff the
      * cell is brighter than its right neighbour — gradient direction,
      * which survives global brightness/contrast shifts that move
      * aHash's mean. */
    def dHash(p: Array[Byte]): Option[Long] =
      decodeImage(p).map { img =>
        val g = luminanceGrid(img, 9, 8)
        var bits = 0L
        var row = 0
        while (row < 8) {
          var colI = 0
          while (colI < 8) {
            if (g(row * 9 + colI) > g(row * 9 + colI + 1))
              bits |= (1L << (row * 8 + colI))
            colI += 1
          }
          row += 1
        }
        bits
      }

    private def decodeImage(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      sniffMime(p).flatMap { _ =>
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
        catch { case scala.util.control.NonFatal(_) => None }
      }

    /** Decode, scale to fit `maxW`×`maxH` preserving aspect ratio
      * (floor-rounded, min 1 px, never upscaled), re-encode PNG.
      * Bilinear interpolation; RGB target so palette/gray sources
      * normalize. Returns (width, height, png bytes). */
    def resizePng(
        p: Array[Byte], maxW: Int, maxH: Int): Option[(Int, Int, Array[Byte])] =
      decodeImage(p).flatMap { img =>
        try {
          val scale = math.min(1.0,
            math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
          val w = math.max(1, (img.getWidth * scale).toInt)
          val h = math.max(1, (img.getHeight * scale).toInt)
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          val buf = new java.io.ByteArrayOutputStream()
          if (javax.imageio.ImageIO.write(out, "png", buf))
            Some((w, h, buf.toByteArray))
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  /** Real JVM audio decode (WAV/PCM — the one container the JDK ships a
    * codec for). Same discipline as [[ImageCodec]]: sniff magic bytes
    * cheaply, treat decode failure as data. */
  object AudioCodec {
    /** RIFF/WAVE container sniff — bytes 0-3 "RIFF", 8-11 "WAVE". */
    def sniffMime(p: Array[Byte]): Option[String] =
      if (p != null && p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')
        Some("audio/wav")
      else None

    /** Decoded mono PCM samples in [-1, 1] — the raw material of
      * [[envelopeHash]]. Channels average to mono; 8-bit (signed or
      * unsigned) and 16-bit little/big-endian signed PCM are handled —
      * the formats `javax.sound.sampled` actually emits for WAV. None
      * on non-WAV, corrupt, or exotic-format payloads (quarantine
      * semantics). */
    private[multimodal] def pcmSamples(p: Array[Byte]): Option[Array[Double]] =
      sniffMime(p).flatMap { _ =>
        try {
          val ais = javax.sound.sampled.AudioSystem
            .getAudioInputStream(new java.io.ByteArrayInputStream(p))
          val fmt = ais.getFormat
          import javax.sound.sampled.AudioFormat.Encoding._
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          val enc = fmt.getEncoding
          val ok = ch >= 1 && ((bits == 8 || bits == 16) &&
            (enc == PCM_SIGNED || enc == PCM_UNSIGNED))
          if (!ok) None
          else {
            val raw = ais.readAllBytes()
            val bytesPerSample = bits / 8
            val frameBytes = bytesPerSample * ch
            val nFrames = raw.length / frameBytes
            val out = new Array[Double](nFrames)
            var f = 0
            while (f < nFrames) {
              var acc = 0.0
              var c = 0
              while (c < ch) {
                val off = f * frameBytes + c * bytesPerSample
                val v =
                  if (bits == 8) {
                    if (enc == PCM_UNSIGNED) ((raw(off) & 0xff) - 128) / 128.0
                    else raw(off) / 128.0
                  } else {
                    val (lo, hi) =
                      if (fmt.isBigEndian) (raw(off + 1), raw(off))
                      else (raw(off), raw(off + 1))
                    (((hi << 8) | (lo & 0xff)).toShort) / 32768.0
                  }
                acc += v
                c += 1
              }
              out(f) = acc / ch
              f += 1
            }
            Some(out)
          }
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
          case scala.util.control.NonFatal(_) => None
        }
      }

    /** 64-bit energy-envelope difference hash — the audio sibling of
      * [[ImageCodec.dHash]]: the clip's mono PCM splits into 65 equal
      * windows, each reduced to RMS energy, and bit i is set iff window
      * i is louder than window i+1. Gradient DIRECTION, so the
      * fingerprint survives uniform gain, re-encoding, and small edits
      * (one perturbed sample moves one window's RMS by ~Δ/√windowLen);
      * clips need ≥ 65 samples (None below — nothing to envelope).
      * Near-dup pairing rides the same [[graft.extensions.Dedup
      * .hammingBandPairs]] operator as text SimHash and image hashes.
      * CAVEAT the spec pins: a FLAT envelope (a pure constant-amplitude
      * tone) makes every comparison a numeric coin-flip — envelope
      * hashing fingerprints dynamics, which real recordings have and
      * synthetic test tones must be given (amplitude modulation). */
    def envelopeHash(p: Array[Byte]): Option[Long] =
      pcmSamples(p).filter(_.length >= 65).map { s =>
        val windows = 65
        val energies = new Array[Double](windows)
        var w = 0
        while (w < windows) {
          val i0 = (w.toLong * s.length / windows).toInt
          val i1 = math.max(((w + 1).toLong * s.length / windows).toInt, i0 + 1)
          var acc = 0.0
          var i = i0
          while (i < i1 && i < s.length) { acc += s(i) * s(i); i += 1 }
          energies(w) = math.sqrt(acc / math.max(i1 - i0, 1))
          w += 1
        }
        var bits = 0L
        var b = 0
        while (b < 64) {
          if (energies(b) > energies(b + 1)) bits |= (1L << b)
          b += 1
        }
        bits
      }

    /** Decode payload bytes → (sampleRate, channels, durationMs); None
      * for non-WAV or corrupt payloads. Duration comes from the frame
      * count and frame rate the JDK parser reports — measured from the
      * BYTES, so this operator validates/repairs the metadata struct
      * exactly like [[ImageCodec.decode]]. */
    def decode(p: Array[Byte]): Option[(Int, Int, Long)] =
      sniffMime(p).flatMap { _ =>
        try {
          val aff = javax.sound.sampled.AudioSystem
            .getAudioFileFormat(new java.io.ByteArrayInputStream(p))
          val fmt = aff.getFormat
          val frames = aff.getFrameLength.toLong
          if (frames < 0 || fmt.getFrameRate <= 0) None
          // divide in DOUBLE: long / float coerces frames*1000 through a
          // 24-bit float mantissa, off by up to ~hundreds of ms on
          // multi-minute clips — poison for metadata-repair equality
          else Some((fmt.getSampleRate.toInt, fmt.getChannels,
            (frames * 1000L / fmt.getFrameRate.toDouble).toLong))
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
          case scala.util.control.NonFatal(_) => None
        }
      }
  }

  /** Real JVM VIDEO decode for the one container a bare JDK can
    * genuinely handle: MJPEG-in-AVI, where each frame is a complete
    * JPEG the stock ImageIO decoder reads — the container is a plain
    * RIFF chunk tree (fourcc + little-endian size + payload, odd sizes
    * padded; `LIST` chunks nest; frames live in the `movi` list as
    * `##dc`/`##db` chunks). The walker below implements exactly that
    * public structure; inter-frame codecs (H.264 …) have no pure-JVM
    * decoder and stay quarantined (None), the same honest boundary as
    * every other codec here. Same discipline as [[ImageCodec]]: sniff
    * magic cheaply, treat parse/decode failure as data. */
  object VideoCodec {
    /** RIFF/AVI container sniff — bytes 0-3 "RIFF", 8-11 "AVI ". */
    def sniffMime(p: Array[Byte]): Option[String] =
      if (p != null && p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' ')
        Some("video/x-msvideo")
      else None

    private def u32(p: Array[Byte], off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)

    private def fourcc(p: Array[Byte], off: Int): String =
      new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** The video-stream chunk payloads (`##dc` compressed / `##db`
      * uncompressed) of the `movi` list, in file order — for MJPEG
      * each payload is one complete JPEG. Defensive walk: any
      * out-of-bounds size ends the scan (truncated files are data). */
    def frames(p: Array[Byte]): Seq[Array[Byte]] =
      sniffMime(p).map { _ =>
        val out = Seq.newBuilder[Array[Byte]]
        def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
          var off = start
          var ok = true
          while (ok && off + 8 <= end) {
            val id = fourcc(p, off)
            val size = u32(p, off + 4)
            val dataStart = off + 8
            val dataEnd = dataStart.toLong + size
            val truncatedHere = dataEnd > end
            if (id == "LIST" && size >= 4 && dataStart + 4 <= end) {
              // a LIST cut short still yields its intact prefix: clamp
              // the recursion to the available bytes (a truncated tail
              // frame is data loss; the complete earlier frames aren't)
              val listType = fourcc(p, dataStart)
              walk(dataStart + 4, math.min(dataEnd, end.toLong).toInt,
                inMovi || listType == "movi")
            } else if (!truncatedHere && inMovi &&
              (id.endsWith("dc") || id.endsWith("db"))) {
              out += java.util.Arrays.copyOfRange(p, dataStart, dataEnd.toInt)
            }
            if (truncatedHere) ok = false // nothing sound follows a cut chunk
            else off = dataEnd.toInt + (size.toInt & 1) // odd sizes pad one byte
          }
        }
        walk(12, p.length, inMovi = false)
        out.result()
      }.getOrElse(Seq.empty)

    /** Decode → (frame count, width, height of the first decodable
      * frame); None for non-AVI, frame-less, or undecodable-frame
      * payloads. Dimensions are measured FROM THE FRAME BYTES via
      * ImageIO — the metadata-repair contract of the other codecs. */
    def decode(p: Array[Byte]): Option[(Int, Int, Int)] = {
      val fs = frames(p)
      if (fs.isEmpty) None
      else fs.iterator
        .flatMap(ImageCodec.decode)
        .collectFirst { case (w, h, _) => (fs.length, w, h) }
    }
  }

  case class ImageInfo(media_id: Long, mime: String,
                       width: Int, height: Int, n_bytes: Long)

  case class AudioInfo(media_id: Long, mime: String, sample_rate: Int,
                       channels: Int, duration_ms: Long, n_bytes: Long)

  /** Per-partition batch IMAGE decode — the real-codec instance of the
    * [[extractFeatures]] contract: image-kind rows are decoded with
    * `javax.imageio`, emitting measured width/height/mime (from the
    * BYTES, not the metadata struct — this is the operator that
    * validates/repairs metadata). Corrupt or non-image payloads drop
    * (flatMap), matching how a crawl pipeline quarantines undecodable
    * media. ImageIO's disk cache is disabled once per partition — the
    * per-partition init the batch shape exists for. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageInfo] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per task, not per row
      rows.flatMap { r =>
        ImageCodec.decode(r.payload).map { case (w, h, mime) =>
          ImageInfo(r.media_id, mime, w, h,
            if (r.payload == null) 0L else r.payload.length.toLong)
        }
      }
    }
  }

  /** Per-partition batch AUDIO decode — the real-codec twin of
    * [[decodeImages]] for audio-kind rows: WAV payloads are parsed with
    * `javax.sound.sampled`, emitting measured sample rate / channels /
    * duration; undecodable payloads drop (quarantine semantics). */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioInfo] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.flatMap { r =>
        AudioCodec.decode(r.payload).map { case (rate, ch, durMs) =>
          AudioInfo(r.media_id, "audio/wav", rate, ch, durMs,
            if (r.payload == null) 0L else r.payload.length.toLong)
        }
      }
    }
  }

  case class ResizedImage(media_id: Long, width: Int, height: Int,
                          payload: Array[Byte])

  /** Per-partition batch IMAGE RESIZE — the preprocessing step a
    * vision-training pipeline runs before feature extraction: each
    * decodable image is scaled to fit inside `maxW`×`maxH` preserving
    * aspect ratio (never upscaled) and re-encoded as PNG, all with the
    * bare JDK (Graphics2D bilinear draw + ImageIO — real pixels, not a
    * stub). Undecodable payloads drop (quarantine semantics, like every
    * decoder here). Output rows are themselves valid `image`-kind
    * payloads, so the resized corpus feeds [[imageHashes]] /
    * [[extractFeatures]] unchanged — at 100 TB this is the derived
    * media table written beside the original, smaller by roughly the
    * area ratio. PNG is deterministic (lossless, no quality seed), so
    * the output bytes are stable across runs and executors. */
  def resizeImages(
      media: Dataset[MediaRow], maxW: Int = 64, maxH: Int = 64): Dataset[ResizedImage] = {
    require(maxW > 0 && maxH > 0, s"bounds must be positive: $maxW x $maxH")
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        ImageCodec.resizePng(r.payload, maxW, maxH).map {
          case (w, h, bytes) => ResizedImage(r.media_id, w, h, bytes)
        }
      }
    }
  }

  case class ImageHashes(media_id: Long, ahash: Long, dhash: Long)

  /** Per-partition batch PERCEPTUAL HASHING of image rows — the dedup
    * feature extractor: each decodable image yields its 64-bit aHash
    * and dHash over the box-averaged luminance grid
    * ([[ImageCodec.aHash]]/[[ImageCodec.dHash]]); undecodable payloads
    * drop (quarantine semantics, like [[decodeImages]]). One decode per
    * row feeds both hashes. The output frame is the input to
    * [[imageHashPairs]] — at 100 TB it is the persisted per-image
    * fingerprint table a media pipeline maintains beside the corpus,
    * exactly as the text side persists its LSH band index. */
  def imageHashes(media: Dataset[MediaRow]): Dataset[ImageHashes] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        for {
          a <- ImageCodec.aHash(r.payload)
          d <- ImageCodec.dHash(r.payload)
        } yield ImageHashes(r.media_id, a, d)
      }
    }
  }

  /** Image near-duplicate candidate pairs: Hamming-banded self-join
    * over a perceptual-hash column ([[Dedup.hammingBandPairs]] — the
    * SAME band machinery as text SimHash, with numBands > maxHamming
    * so the banding is complete, never a recall trade). `useDHash`
    * selects the gradient hash (brightness-shift robust) over the
    * mean hash. Extends the dedup family to the image modality: decode
    * → fingerprint → banded pairing, no all-pairs comparison anywhere. */
  def imageHashPairs(
      hashes: Dataset[ImageHashes],
      maxHamming: Int = 3,
      useDHash: Boolean = false): DataFrame =
    graft.extensions.Dedup.hammingBandPairs(hashes.toDF(),
      "media_id", if (useDHash) "dhash" else "ahash", maxHamming)

  case class VideoInfo(media_id: Long, mime: String, n_frames: Int,
                       width: Int, height: Int, n_bytes: Long)

  /** Per-partition batch VIDEO decode — the real-codec member for
    * MJPEG-in-AVI payloads ([[VideoCodec]]): frame count plus
    * measured-from-bytes dimensions of the first decodable frame;
    * non-AVI, inter-frame-coded, or corrupt payloads drop (quarantine
    * semantics, like every decoder here). */
  def decodeVideo(media: Dataset[MediaRow]): Dataset[VideoInfo] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        VideoCodec.decode(r.payload).map { case (n, w, h) =>
          VideoInfo(r.media_id, "video/x-msvideo", n, w, h,
            if (r.payload == null) 0L else r.payload.length.toLong)
        }
      }
    }
  }

  /** REAL frame sampling for MJPEG-AVI payloads — the generator (1→N)
    * shape of [[sampleFrames]] with genuine decoded content: up to `n`
    * evenly-spaced frames per video, each emitted as its JPEG bytes
    * with its measured dimensions. */
  def sampleFramesMjpeg(media: Dataset[MediaRow], n: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val fs = VideoCodec.frames(r.payload)
      if (fs.isEmpty) Seq.empty
      else {
        val step = math.max(fs.length / math.max(n, 1), 1)
        fs.zipWithIndex.filter(_._2 % step == 0).take(n).flatMap {
          case (jpeg, idx) =>
            ImageCodec.decode(jpeg).map { case (w, h, _) =>
              (r.media_id, idx, jpeg, w, h)
            }
        }
      }
    }.toDF("media_id", "frame_no", "frame_jpeg", "width", "height")
  }

  case class VideoHash(media_id: Long, vhash: Long)

  /** Per-partition batch perceptual hashing of MJPEG-AVI video rows —
    * the keyframe-hash approach: the FIRST decodable frame's aHash
    * stands for the clip (cheap, and re-encodes/container rewraps of
    * the same footage keep their first frame). With it, near-dup
    * detection spans ALL THREE media kinds through the one shared
    * Hamming band operator. Undecodable payloads drop. */
  def videoHashes(media: Dataset[MediaRow]): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        VideoCodec.frames(r.payload).iterator
          .flatMap(ImageCodec.aHash)
          .nextOption()
          .map(VideoHash(r.media_id, _))
      }
    }
  }

  /** Video near-duplicate candidate pairs over the keyframe hash —
    * [[graft.extensions.Dedup.hammingBandPairs]], complete banding. */
  def videoHashPairs(
      hashes: Dataset[VideoHash], maxHamming: Int = 3): DataFrame =
    graft.extensions.Dedup.hammingBandPairs(hashes.toDF(),
      "media_id", "vhash", maxHamming)

  case class AudioHash(media_id: Long, ehash: Long)

  /** Per-partition batch perceptual hashing of audio rows — the audio
    * member of the modality-dedup family ([[imageHashes]]' sibling):
    * each decodable WAV yields its 64-bit energy-envelope hash
    * ([[AudioCodec.envelopeHash]]); undecodable or sub-65-sample
    * payloads drop (quarantine). */
  def audioHashes(media: Dataset[MediaRow]): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.flatMap(r => AudioCodec.envelopeHash(r.payload)
        .map(AudioHash(r.media_id, _)))
    }
  }

  /** Audio near-duplicate candidate pairs —
    * [[graft.extensions.Dedup.hammingBandPairs]] over the envelope
    * hash, the same complete 64-bit band machinery as text SimHash and
    * image hashes. */
  def audioHashPairs(
      hashes: Dataset[AudioHash], maxHamming: Int = 3): DataFrame =
    graft.extensions.Dedup.hammingBandPairs(hashes.toDF(),
      "media_id", "ehash", maxHamming)

  /** Per-partition batch decode — the mapInPandas-shaped hot path. The
    * iterator is consumed lazily: rows stream through without
    * materializing the partition, so payload bytes never pile up in
    * memory. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init happens HERE (real codecs open once per task)
      rows.map { r =>
        val (checksum, feat) = FakeCodec.features(r.payload)
        MediaFeatures(r.media_id, r.kind,
          if (r.payload == null) 0L else r.payload.length.toLong,
          checksum, feat)
      }
    }
  }

  /** Frame-sample stub: emits `n` deterministic byte-slices per video row
    * — the generator (1→N) shape of frame extraction, as a typed
    * flatMap. */
  def sampleFrames(media: Dataset[MediaRow], n: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val len = if (r.payload == null) 0 else r.payload.length
      (0 until math.min(n, math.max(len, 0))).map { i =>
        val step = math.max(len / math.max(n, 1), 1)
        (r.media_id, i, r.payload.slice(i * step, i * step + math.min(16, len)))
      }
    }.toDF("media_id", "frame_no", "frame_bytes")
  }

  /** Partitioning guidance applied: media tables are written with bounded
    * file sizes so a single task never holds more than ~`targetMB` of
    * payload (the reference bounds parquet files the same way,
    * feeder_hadoop.py:20). */
  def writeMedia(df: DataFrame, path: String, targetRecordsPerFile: Int = 1000): Unit =
    df.write.option("maxRecordsPerFile", targetRecordsPerFile.toLong)
      .mode("overwrite").parquet(path)

  /** Deterministic GENUINE image payloads for tests/demos: each row is a
    * real PNG (encoded via the same javax.imageio the decoder uses) of a
    * seed-derived size with seed-derived pixel data, so the decode path
    * is exercised on authentic container bytes, not fakes. */
  def syntheticImages(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val w = 4 + (i % 5).toInt
      val h = 3 + (i % 4).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, ((i * 2654435761L + x * 31 + y * 17) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(i, "image", bos.toByteArray,
        MediaMeta(Some(w), Some(h), None, Some("image/png")))
    }
  }

  /** Deterministic GENUINE audio payloads for tests/demos: each row is a
    * real 8-bit mono PCM WAV (encoded via the same `javax.sound.sampled`
    * the decoder uses) with a seed-derived sample rate and length, so the
    * decode path is exercised on authentic container bytes. */
  def syntheticWavs(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val sampleRate = 8000 * (1 + (i % 3).toInt) // 8/16/24 kHz
      val nSamples = 400 + (i % 100).toInt * 4
      val pcm = Array.tabulate[Byte](nSamples)(j =>
        (math.sin(j * 0.1 + i) * 100).toByte)
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 8, 1,
        true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      MediaRow(i, "audio", bos.toByteArray,
        MediaMeta(None, None, Some(nSamples * 1000L / sampleRate),
          Some("audio/wav")))
    }
  }

  /** Deterministic 32×24 seed-patterned PNGs — the DEDUP-SUITABLE
    * synthetic corpus: enough pixels that each 8×8 luminance cell
    * averages ~12 of them, so distinct seeds land far apart in Hamming
    * space (the tiny [[syntheticImages]] rows exist for decode-plumbing
    * tests and collide heavily under perceptual hashing — few pixels,
    * few shapes). Used by the bench multimodal section. */
  /** splitmix64-style avalanche — a plain linear blend of (seed, x, y)
    * keeps cross-seed structure (a constant luminance offset preserves
    * every gradient, so perceptual hashes collide corpus-wide). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def syntheticPhotos(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val w = 32; val h = 24
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y,
            (mix64(i * 10007L + y * 37L + x) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(i, "image", bos.toByteArray,
        MediaMeta(Some(w), Some(h), None, Some("image/png")))
    }
  }

  /** Deterministic GENUINE MJPEG-AVI payloads for tests/demos: a
    * spec-shaped RIFF container (`hdrl` with an avih header, a `movi`
    * list of `00dc` chunks) whose frames are real ImageIO-encoded
    * JPEGs — so [[VideoCodec]] is exercised on authentic container
    * structure AND authentic frame bytes, the [[syntheticImages]]
    * discipline at the video layer. */
  def syntheticMjpegAvis(spark: SparkSession, n: Int, framesPer: Int = 4): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val frames = (0 until framesPer).map { f =>
        val w = 16; val h = 12
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, (mix64(i * 131071L + f * 977L + y * 37L + x) & 0xffffff).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      def le32(v: Int): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def chunk(id: String, data: Array[Byte]): Array[Byte] =
        id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
          (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
      def list(listType: String, body: Array[Byte]): Array[Byte] =
        chunk("LIST", listType.getBytes("US-ASCII") ++ body)
      val avih = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(frames.length) ++ Array.fill(36)(0.toByte)) // 56-byte main header
      val movi = list("movi", frames.flatMap(chunk("00dc", _)).toArray)
      val body = "AVI ".getBytes("US-ASCII") ++ list("hdrl", avih) ++ movi
      val payload = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
      MediaRow(i, "video", payload,
        MediaMeta(Some(16), Some(12), Some(framesPer * 40L), Some("video/x-msvideo")))
    }
  }

  /** Deterministic synthetic media frame for tests/demos. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val kind = Seq("image", "audio", "video")(i.toInt % 3)
      val payload = Array.tabulate[Byte](64 + (i % 64).toInt)(j => ((i * 31 + j) % 251).toByte)
      MediaRow(i, kind, payload,
        MediaMeta(Some(64), Some(48), Some(1000L * (i % 10)), Some(s"x/$kind")))
    }
  }
}
