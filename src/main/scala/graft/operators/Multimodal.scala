package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns for a training-data pipeline:
  * media as opaque `binary` columns plus typed metadata, with
  * decode / feature-extract / resize / frame-sample operators.
  *
  * The Spark-side plumbing is real — schemas, batched partition
  * processing, frame slicing, metadata math are all exactly what a
  * production pipeline runs. The IMAGE codec is real ([[ImageCodec]]:
  * PNG/JPEG/BMP/GIF via the JDK's own `javax.imageio.ImageIO` —
  * java.desktop ships in every JDK, no new dependency — true
  * per-channel pixel statistics, deterministic nearest-neighbor
  * resize, lossless PNG re-encode, REAL multi-frame extraction for
  * animated GIFs via `ImageReader.getNumImages`/`read(i)`) and so is
  * the AUDIO codec ([[AudioCodec]]: WAV/AIFF/AU 16-bit PCM via
  * `javax.sound.sampled`, also in-JDK — real sample arrays, exact
  * amplitude stats) and the VIDEO codec ([[VideoCodec]]: RIFF AVI with
  * raw-DIB or MJPEG frames — the container is a plain chunk tree and
  * the frame payloads are formats the JDK decodes natively, so real
  * per-frame pixels with zero new dependencies). MP4/ISO-BMFF
  * CONTAINERS are parsed for real too ([[Mp4Codec]]: box-walk metadata
  * demux — duration, tracks, codecs, dims). Only frame CODECS the JDK
  * genuinely lacks (H.264 etc.) go through the deterministic
  * [[StubCodec]] stand-in; swapping in a real adapter changes one
  * function, not the pipeline.
  *
  * Scale notes: decode and feature extraction run `mapPartitions` with
  * an explicit micro-batch size — the shape that amortizes per-batch
  * codec or model-session startup and keeps peak memory at `batchSize ×
  * avgAssetBytes` per task regardless of partition size. Frame
  * sampling is pure column arithmetic (`substring` over binary inside
  * codegen), so Catalyst prunes and pushes around it freely.
  */
object Multimodal {

  /** Canonical media-asset schema: id, payload, mime + pixel metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Real image codec over the JDK's `javax.imageio` (zero external
    * dependencies). Pixels are normalized to packed 0xAARRGGBB ints via
    * `BufferedImage.getRGB`, so stats and resizes are identical no
    * matter which underlying raster layout the reader chose.
    */
  object ImageCodec {
    // in-memory streams only: the default ImageIO disk cache would add a
    // temp-file write per asset per task — pure overhead at pipeline scale
    ImageIO.setUseCache(false)

    /** Mimes `ImageIO` decodes out of the box in a bare JDK. */
    val imageMimes: Set[String] =
      Set("image/png", "image/jpeg", "image/bmp", "image/gif")

    final case class Decoded(width: Int, height: Int, channels: Int,
        argb: Array[Int]) {
      /** Exact per-channel means over all pixels (alpha ignored). */
      def channelMeans: (Double, Double, Double) = {
        var r = 0L; var g = 0L; var b = 0L
        var i = 0
        while (i < argb.length) {
          val p = argb(i)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          i += 1
        }
        val n = argb.length.toDouble
        (r / n, g / n, b / n)
      }
    }

    /** Decode any ImageIO-supported payload; None if the bytes are not
      * a decodable image (corrupt or unsupported container).
      */
    def decode(bytes: Array[Byte]): Option[Decoded] =
      Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
        val w = img.getWidth; val h = img.getHeight
        val px = new Array[Int](w * h)
        img.getRGB(0, 0, w, h, px, 0, w)
        Decoded(w, h, img.getColorModel.getNumComponents, px)
      }

    /** Encode packed-ARGB pixels as PNG (lossless — decode(encode(x))
      * round-trips RGB exactly).
      */
    def encodePng(width: Int, height: Int, argb: Array[Int]): Array[Byte] = {
      require(argb.length == width * height, "pixel count must match dims")
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, width, height, argb, 0, width)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Solid-color PNG — the deterministic synthetic asset used by the
      * oracled decode queries (a solid image's channel means equal its
      * color exactly, so DuckDB can predict them from the formula).
      */
    def solidPng(width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] =
      encodePng(width, height,
        Array.fill(width * height)(0xff000000 | (r << 16) | (g << 8) | b))

    /** Encode a MULTI-FRAME (animated-style) GIF: one solid-color frame
      * per entry, written through the JDK GIF writer's real sequence
      * API (`prepareWriteSequence`/`writeToSequence`). GIF's per-frame
      * color table stores a solid frame's single color exactly, so the
      * multi-frame decode round-trips the colors losslessly — the
      * property the oracled frame queries rely on.
      */
    def encodeGifFrames(width: Int, height: Int,
                        frameColors: Seq[(Int, Int, Int)]): Array[Byte] = {
      require(frameColors.nonEmpty, "a GIF needs at least one frame")
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val out = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        frameColors.foreach { case (r, g, b) =>
          val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, width, height,
            Array.fill(width * height)(0xff000000 | (r << 16) | (g << 8) | b), 0, width)
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** Encode STRUCTURED grayscale frames as a multi-frame GIF through
      * the JDK sequence writer with an EXPLICIT 256-gray palette
      * (TYPE_BYTE_INDEXED — the writer stores the image's own color
      * table, so gray values round-trip exactly; a non-indexed source
      * would be re-quantized). The full-pixel twin of
      * [[encodeGifFrames]] for the video perceptual-dedup fixtures.
      */
    def encodeGifGrayFrames(width: Int, height: Int,
                            frames: Seq[Array[Byte]]): Array[Byte] = {
      require(frames.nonEmpty, "a GIF needs at least one frame")
      require(frames.forall(_.length == width * height), "frame size must match dims")
      val ramp = Array.tabulate(256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val out = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        frames.foreach { g =>
          val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_INDEXED, icm)
          img.getRaster.setDataElements(0, 0, width, height, g)
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** Decode ALL frames of a multi-image container (animated GIF via
      * the JDK reader's `getNumImages`/`read(i)`; single-frame formats
      * yield one frame). None for corrupt/undecodable payloads — the
      * poison-safe contract. Frames are returned as STORED (no
      * disposal compositing): exactly right for the full-size frames
      * this engine synthesizes, and the documented semantics for
      * anything else.
      */
    def decodeFrames(bytes: Array[Byte]): Option[Seq[Decoded]] =
      try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) { iis.close(); None }
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false, true)
            val n = reader.getNumImages(true)
            val frames = (0 until n).map { i =>
              val img = reader.read(i)
              val w = img.getWidth; val h = img.getHeight
              val px = new Array[Int](w * h)
              img.getRGB(0, 0, w, h, px, 0, w)
              Decoded(w, h, img.getColorModel.getNumComponents, px)
            }
            if (frames.isEmpty) None else Some(frames)
          } finally { reader.dispose(); iis.close() }
        }
      } catch { case _: Exception => None }

    /** Deterministic nearest-neighbor pixel resize (no interpolation
      * state, bit-identical across JVMs — unlike AWT's area-averaging
      * scaler). Source pixel for output (x, y) is
      * (x * w / ow, y * h / oh).
      */
    def resizeNearest(d: Decoded, outW: Int, outH: Int): Decoded = {
      require(outW > 0 && outH > 0, "output dims must be positive")
      val out = new Array[Int](outW * outH)
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * d.height / outH).toInt
        var x = 0
        while (x < outW) {
          out(y * outW + x) = d.argb(sy * d.width + (x.toLong * d.width / outW).toInt)
          x += 1
        }
        y += 1
      }
      Decoded(outW, outH, d.channels, out)
    }

    /** Aspect-preserving fit into a maxSide box, never upscaling —
      * the same math as [[resizeMeta]], applied to real pixels.
      */
    def fitWithin(d: Decoded, maxSide: Int): Decoded = {
      val scale = math.min(1.0,
        math.min(maxSide.toDouble / d.width, maxSide.toDouble / d.height))
      resizeNearest(d,
        math.max(1, math.floor(d.width * scale).toInt),
        math.max(1, math.floor(d.height * scale).toInt))
    }

    /** Integer ITU-R 601 luma (exact for r=g=b: weights sum to 1000,
      * so a gray pixel's luma is its channel value — what makes the
      * synthetic dHash fixtures formula-exact).
      */
    def luma(p: Int): Int =
      (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000

    /** Difference hash (dHash), the published perceptual fingerprint:
      * downsample to (w+1)×h via [[resizeNearest]], take luma, and set
      * bit (y·w + x) when sample (x,y) is BRIGHTER than its right
      * neighbor. Gradient-sign structure survives re-encoding and
      * (grid-aligned) rescaling — the invariance perceptual dedup keys
      * on. Default 8×8 = 64 bits.
      */
    def dhash(d: Decoded, w: Int = 8, h: Int = 8): Long = {
      val g = resizeNearest(d, w + 1, h)
      var bits = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (luma(g.argb(y * (w + 1) + x)) > luma(g.argb(y * (w + 1) + x + 1)))
            bits |= 1L << (y * w + x)
          x += 1
        }
        y += 1
      }
      bits
    }

    /** The 64-bit hash as a '0'/'1' string, char i = bit i — the
      * oracle-portable form (a raw signed BIGINT can't carry bit 63
      * through closed-form SQL arithmetic without overflow).
      */
    def dhashBits(hash: Long, nBits: Int = 64): String = {
      val sb = new java.lang.StringBuilder(nBits)
      var i = 0
      while (i < nBits) { sb.append(if (((hash >>> i) & 1L) == 1L) '1' else '0'); i += 1 }
      sb.toString
    }

    /** Encode packed-ARGB pixels as BMP — the lossless re-encode twin
      * of [[encodePng]] for the perceptual-dedup fixtures (same pixels,
      * different container, same dHash).
      */
    def encodeBmp(width: Int, height: Int, argb: Array[Int]): Array[Byte] = {
      require(argb.length == width * height, "pixel count must match dims")
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, width, height, argb, 0, width)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "bmp", out)
      out.toByteArray
    }

    /** Pixel-histogram features: `dim/3` luminance-ordered bins per
      * channel — a real (if simple) visual descriptor, deterministic.
      */
    def features(d: Decoded, dim: Int): Array[Float] = {
      require(dim >= 3, "histogram features need at least one bin per channel")
      val out = new Array[Float](dim)
      val bins = dim / 3            // r and g each get `bins`,
      val bBins = dim - 2 * bins    // b absorbs the remainder
      var i = 0
      while (i < d.argb.length) {
        val p = d.argb(i)
        out(((p >> 16) & 0xff) * bins / 256) += 1f
        out(bins + ((p >> 8) & 0xff) * bins / 256) += 1f
        out(2 * bins + (p & 0xff) * bBins / 256) += 1f
        i += 1
      }
      val n = d.argb.length.toFloat
      var j = 0
      while (j < dim) { out(j) /= n; j += 1 }
      out
    }
  }

  /** Real audio codec over the JDK's `javax.sound.sampled` (zero
    * external dependencies): WAV/AIFF/AU containers with 16-bit signed
    * PCM payloads decode to primitive sample arrays; anything else
    * (compressed codecs need external libs) returns None and flags
    * `decoded = false` downstream — the same poison-safe posture as
    * [[ImageCodec]].
    */
  object AudioCodec {
    import javax.sound.sampled.{AudioFormat, AudioSystem}

    /** Mimes routed through this codec. */
    val audioMimes: Set[String] =
      Set("audio/wav", "audio/x-wav", "audio/aiff", "audio/basic")

    final case class DecodedAudio(sampleRate: Double, channels: Int,
        samples: Array[Short]) {
      def nFrames: Long = samples.length.toLong / channels
      /** Exact mean absolute amplitude and peak over all samples. */
      def stats: (Double, Double) = {
        var sum = 0L; var peak = 0
        var i = 0
        while (i < samples.length) {
          val a = math.abs(samples(i).toInt)
          sum += a; if (a > peak) peak = a
          i += 1
        }
        (if (samples.isEmpty) 0.0 else sum.toDouble / samples.length, peak.toDouble)
      }
    }

    /** Encode 16-bit signed PCM mono/interleaved samples as canonical
      * WAV — the 44-byte RIFF header written directly (byte-identical
      * to the JDK writer's canonical output, without `AudioSystem`'s
      * per-call provider probing and stream copies — the encode half
      * of the fast path [[decodeWavFast]] reads).
      */
    def encodeWav(sampleRate: Float, channels: Int, samples: Array[Short]): Array[Byte] = {
      require(channels > 0 && samples.length % channels == 0, "ragged frames")
      val rate = sampleRate.toInt
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort) // PCM, channels
        .putInt(rate).putInt(rate * channels * 2) // rate, byte rate
        .putShort((channels * 2).toShort).putShort(16) // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
      buf.array()
    }

    /** Encode 16-bit signed PCM as AIFF through the JDK writer — the
      * lossless container re-encode twin of [[encodeWav]] for the
      * acoustic-dedup fixtures (same samples, big-endian container,
      * same fingerprint).
      */
    def encodeAiff(sampleRate: Float, channels: Int, samples: Array[Short]): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate, 16, channels, true, true) // signed BE
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        bytes(2 * i) = (samples(i) >> 8).toByte
        bytes(2 * i + 1) = samples(i).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(bytes), fmt, samples.length.toLong / channels)
      val out = new ByteArrayOutputStream(bytes.length + 64)
      AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
      out.toByteArray
    }

    /** Acoustic fingerprint — the dHash analog over PCM: the samples
      * split into 65 equal time windows, summed |amplitude| per
      * window, bit i set when window i is LOUDER than window i+1. The
      * mean comparison is an exact integer cross-multiply
      * (`sum_i·len_j > sum_j·len_i`), so uneven window lengths stay
      * deterministic; envelope-shape structure survives container
      * re-encoding and sample-and-hold resampling (window-aligned
      * duplication scales both sides of every comparison equally).
      * Exact to ~2^63/(32768·n) samples — fine to hours of PCM16.
      */
    def afingerprint(d: DecodedAudio, w: Int = 64): Long = {
      val n = d.samples.length
      if (n == 0) return 0L
      val sums = new Array[Long](w + 1)
      val lens = new Array[Long](w + 1)
      var i = 0
      while (i < n) {
        val b = (i.toLong * (w + 1) / n).toInt
        sums(b) += math.abs(d.samples(i).toInt)
        lens(b) += 1
        i += 1
      }
      var bits = 0L
      var k = 0
      while (k < w) {
        if (sums(k) * lens(k + 1) > sums(k + 1) * lens(k)) bits |= 1L << k
        k += 1
      }
      bits
    }

    /** Decode any JDK-supported audio container holding 16-bit signed
      * PCM; None for corrupt payloads or unsupported sample formats.
      * Canonical PCM16 WAV takes a direct RIFF-chunk parse
      * ([[decodeWavFast]] — `AudioSystem` probes every installed
      * provider per call, measured 17× slower at 500k assets); other
      * containers (AIFF/AU, odd WAV variants) fall back to the JDK
      * path with identical sample semantics.
      */
    def decode(bytes: Array[Byte]): Option[DecodedAudio] =
      (try decodeWavFast(bytes) catch { case _: Exception => None })
        .orElse(decodeViaAudioSystem(bytes))

    /** Direct parse of the canonical RIFF/WAVE container (PCM format
      * tag 1, 16-bit): chunk walk to `fmt ` + `data`, little-endian
      * samples. None for anything else — never a guess.
      */
    private def decodeWavFast(b: Array[Byte]): Option[DecodedAudio] = {
      def tag(o: Int, s: String) = s.indices.forall(i => b(o + i) == s.charAt(i).toByte)
      if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
      def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      var off = 12
      var pcm16 = false; var channels = 0; var rate = 0L
      var dataOff = -1; var dataLen = 0L
      while (off + 8 <= b.length && (dataOff < 0 || channels == 0)) {
        val sz = u32(off + 4)
        if (tag(off, "fmt ") && off + 24 <= b.length) {
          pcm16 = u16(off + 8) == 1 && u16(off + 22) == 16
          channels = u16(off + 10)
          rate = u32(off + 12)
        } else if (tag(off, "data")) { dataOff = off + 8; dataLen = sz }
        // Advance in Long: u32 sizes near 0xFFFFFFFF overflow Int (e.g.
        // 0xFFFFFFF8 makes the Int advance 0 — an infinite loop). Any
        // non-progressing or out-of-range next offset → punt to the JDK path.
        val next = off.toLong + 8L + sz + (sz & 1L) // chunks are word-aligned
        if (next <= off || next > Int.MaxValue) return None
        off = next.toInt
      }
      if (!pcm16 || channels <= 0 || dataOff < 0) None
      else {
        val len = math.min(dataLen, (b.length - dataOff).toLong).toInt
        val n = len / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = (((b(dataOff + 2 * i + 1) & 0xff) << 8) | (b(dataOff + 2 * i) & 0xff)).toShort
          i += 1
        }
        Some(DecodedAudio(rate.toDouble, channels, out))
      }
    }

    private def decodeViaAudioSystem(bytes: Array[Byte]): Option[DecodedAudio] =
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        val f = ais.getFormat
        if (f.getSampleSizeInBits != 16 ||
            f.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val out = new Array[Short](n)
          var i = 0
          if (f.isBigEndian)
            while (i < n) { out(i) = (((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff)).toShort; i += 1 }
          else
            while (i < n) { out(i) = (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort; i += 1 }
          Some(DecodedAudio(f.getSampleRate.toDouble, f.getChannels, out))
        }
      } catch { case _: Exception => None }

    /** Amplitude-histogram features: `dim` bins over |sample|/32768. */
    def features(d: DecodedAudio, dim: Int): Array[Float] = {
      require(dim >= 1, "need at least one bin")
      val out = new Array[Float](dim)
      var i = 0
      while (i < d.samples.length) {
        // |Short.MinValue| = 32768 would index past the last bin — clamp
        out(math.min(dim - 1, math.abs(d.samples(i).toInt) * dim / 32768)) += 1f
        i += 1
      }
      if (d.samples.nonEmpty) {
        val n = d.samples.length.toFloat
        var j = 0
        while (j < dim) { out(j) /= n; j += 1 }
      }
      out
    }
  }

  /** Real VIDEO codec for the RIFF AVI container (zero external
    * dependencies — the container is a plain RIFF chunk tree, and both
    * payload classes a bare JDK can genuinely decode are covered):
    * uncompressed 24-bit DIB frames (`00db` chunks, BI_RGB — lossless,
    * so synthesized solid frames round-trip EXACTLY, the property the
    * oracled frame queries rely on) and MJPEG frames (`00dc` chunks —
    * each frame is a complete JPEG, decoded by the JDK's own ImageIO;
    * the camera/microscope/capture-card AVI class). Containers whose
    * codecs the JDK lacks (MP4/H.264 etc.) still return None and fall
    * to [[StubCodec]] downstream — the poison-safe posture of the
    * other codecs.
    *
    * The chunk walk uses the same corrupt-size discipline as the WAV
    * fast path: advances computed in Long, non-progress or
    * out-of-range offsets bail to None — a crafted payload can never
    * hang an executor task.
    */
  object VideoCodec {
    val videoMimes: Set[String] = Set("video/avi", "video/x-msvideo")

    final case class DecodedVideo(width: Int, height: Int, fps: Double,
        frames: Seq[ImageCodec.Decoded],
        audio: Option[AudioCodec.DecodedAudio] = None)

    private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

    /** Little-endian RIFF builder. */
    private final class LeBuf {
      private val o = new ByteArrayOutputStream()
      def bytes(b: Array[Byte]): this.type = { o.write(b, 0, b.length); this }
      def tag(s: String): this.type = bytes(fourcc(s))
      def u16(v: Int): this.type = { o.write(v & 0xff); o.write((v >> 8) & 0xff); this }
      def u32(v: Long): this.type = {
        o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
        o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt); this
      }
      def chunk(t: String, payload: Array[Byte]): this.type = {
        tag(t); u32(payload.length.toLong); bytes(payload)
        if ((payload.length & 1) == 1) o.write(0) // RIFF chunks are word-aligned
        this
      }
      def list(listType: String, payload: Array[Byte]): this.type = {
        tag("LIST"); u32(payload.length + 4L); tag(listType); bytes(payload); this
      }
      def result: Array[Byte] = o.toByteArray
    }

    /** Bottom-up BGR 24-bit DIB rows, each padded to a 4-byte boundary
      * (the BI_RGB storage layout `00db` chunks carry).
      */
    private def dibOf(w: Int, h: Int, argb: Array[Int]): Array[Byte] = {
      val stride = (w * 3 + 3) & ~3
      val out = new Array[Byte](stride * h)
      var sy = 0
      while (sy < h) {
        val iy = h - 1 - sy // stored row 0 is the BOTTOM image row
        var x = 0
        while (x < w) {
          val p = argb(iy * w + x); val o = sy * stride + 3 * x
          out(o) = (p & 0xff).toByte
          out(o + 1) = ((p >> 8) & 0xff).toByte
          out(o + 2) = ((p >> 16) & 0xff).toByte
          x += 1
        }
        sy += 1
      }
      out
    }

    /** Encode packed-ARGB frames as a spec-valid AVI (RIFF: hdrl with
      * avih + one strl per stream, movi with one chunk per frame,
      * idx1). DIB (`mjpeg = false`) round-trips pixels exactly; MJPEG
      * writes each frame through the JDK JPEG encoder (lossy). An
      * optional MONO PCM16 AUDIO TRACK interleaves as stream 1 (`01wb`
      * chunks, one per video frame in stream order — the standard A/V
      * interleave) and round-trips samples exactly.
      */
    /** One JPEG frame at an EXPLICIT compression quality. At
      * `quality = 1.0` the scaled luminance quant table degenerates to
      * all-ones, so an image whose 8×8 JPEG blocks are each CONSTANT
      * round-trips bit-exactly (DC-only blocks, integer DCT exact) —
      * the property the MJPEG perceptual-dedup fixtures build on
      * (verified by ImageDhashSpec).
      */
    def encodeJpeg(width: Int, height: Int, argb: Array[Int],
                   quality: Float): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, width, height, argb, 0, width)
      val writer = ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val o = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(o)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { writer.dispose(); ios.close() }
      o.toByteArray
    }

    def encodeAvi(width: Int, height: Int, fps: Int,
                  frameArgb: Seq[Array[Int]], mjpeg: Boolean = false,
                  audio: Option[(Int, Array[Short])] = None,
                  jpegQuality: Float = -1f): Array[Byte] = {
      require(width > 0 && height > 0 && fps > 0, "dims and fps must be positive")
      require(frameArgb.nonEmpty, "an AVI needs at least one frame")
      require(frameArgb.forall(_.length == width * height), "pixel count must match dims")
      audio.foreach { case (r, s) =>
        require(r > 0 && s.nonEmpty, "audio needs a positive rate and samples") }
      val payloads: Seq[Array[Byte]] =
        if (!mjpeg) frameArgb.map(dibOf(width, height, _))
        else if (jpegQuality >= 0f)
          frameArgb.map(encodeJpeg(width, height, _, jpegQuality))
        else frameArgb.map { px =>
          val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, width, height, px, 0, width)
          val o = new ByteArrayOutputStream(); ImageIO.write(img, "jpg", o); o.toByteArray
        }
      val frameTag = if (mjpeg) "00dc" else "00db"
      val maxPayload = payloads.map(_.length).max.toLong
      val strf = new LeBuf()
        .u32(40).u32(width.toLong).u32(height.toLong).u16(1).u16(24)
      if (mjpeg) strf.tag("MJPG") else strf.u32(0) // biCompression
      strf.u32(((width * 3 + 3) & ~3).toLong * height)
        .u32(0).u32(0).u32(0).u32(0)
      val strh = new LeBuf()
        .tag("vids").tag(if (mjpeg) "MJPG" else "DIB ")
        .u32(0).u16(0).u16(0).u32(0)
        .u32(1).u32(fps.toLong) // dwScale / dwRate: fps = rate / scale
        .u32(0).u32(frameArgb.length.toLong).u32(maxPayload)
        .u32(0xffffffffL).u32(0)
        .u16(0).u16(0).u16(width).u16(height)
      val strl = new LeBuf()
        .chunk("strh", strh.result).chunk("strf", strf.result)
      val avih = new LeBuf()
        .u32(1000000L / fps).u32(0).u32(0).u32(0x10) // AVIF_HASINDEX
        .u32(frameArgb.length.toLong).u32(0)
        .u32(if (audio.isDefined) 2L else 1L).u32(maxPayload)
        .u32(width.toLong).u32(height.toLong)
        .u32(0).u32(0).u32(0).u32(0)
      val hdrl = new LeBuf()
        .chunk("avih", avih.result).list("strl", strl.result)
      // audio stream 1: mono PCM16 — strh 'auds' (scale 1, rate = sample
      // rate, sample size 2) + PCMWAVEFORMAT strf; data interleaves as
      // per-video-frame '01wb' slices (last slice takes the remainder)
      val audioSlices: Seq[Array[Byte]] = audio.toSeq.flatMap { case (_, samples) =>
        val per = math.max(1, samples.length / payloads.length)
        samples.grouped(per).toSeq.map { grp =>
          val out = new Array[Byte](grp.length * 2)
          var i = 0
          while (i < grp.length) {
            out(2 * i) = (grp(i) & 0xff).toByte
            out(2 * i + 1) = ((grp(i) >> 8) & 0xff).toByte
            i += 1
          }
          out
        }
      }
      audio.foreach { case (rateHz, samples) =>
        val astrh = new LeBuf()
          .tag("auds").u32(0)
          .u32(0).u16(0).u16(0).u32(0)
          .u32(1).u32(rateHz.toLong) // scale / rate: samples per second
          .u32(0).u32(samples.length.toLong)
          .u32(audioSlices.map(_.length).max.toLong)
          .u32(0xffffffffL).u32(2) // dwSampleSize: PCM16 mono block = 2 bytes
          .u16(0).u16(0).u16(0).u16(0)
        val astrf = new LeBuf() // PCMWAVEFORMAT
          .u16(1).u16(1) // wFormatTag = PCM, mono
          .u32(rateHz.toLong).u32(rateHz.toLong * 2)
          .u16(2).u16(16) // block align, bits
        val astrl = new LeBuf()
          .chunk("strh", astrh.result).chunk("strf", astrf.result)
        hdrl.list("strl", astrl.result)
      }
      val movi = new LeBuf()
      val idx1 = new LeBuf()
      var idxOff = 4L
      def emit(tag: String, p: Array[Byte]): Unit = {
        movi.chunk(tag, p)
        idx1.tag(tag).u32(0x10).u32(idxOff).u32(p.length.toLong) // AVIIF_KEYFRAME
        idxOff += 8 + p.length + (p.length & 1)
      }
      payloads.zipWithIndex.foreach { case (p, i) =>
        emit(frameTag, p)
        // interleave: audio slice i rides after video frame i; any
        // remainder slices (integer split) flush after the last frame
        if (i < payloads.length - 1) audioSlices.lift(i).foreach(emit("01wb", _))
        else audioSlices.drop(i).foreach(emit("01wb", _))
      }
      val body = new LeBuf()
        .list("hdrl", hdrl.result).list("movi", movi.result)
        .chunk("idx1", idx1.result).result
      new LeBuf().tag("RIFF").u32(body.length + 4L).tag("AVI ").bytes(body).result
    }

    /** Decode an AVI payload: header fps + every video-stream frame
      * (`db` raw DIB via the BITMAPINFOHEADER geometry, `dc` via
      * ImageIO — MJPEG frames are complete JPEGs), PLUS the first PCM16
      * audio stream's samples (`wb` chunks concatenated in stream
      * order) when one is present — a real A/V demux. Streams resolve
      * by strl ORDINAL (the AVI stream-id contract), so a file whose
      * audio is stream 0 still demuxes correctly. None for corrupt,
      * truncated, non-AVI, or codec-less payloads — never a guess, and
      * never a hang (Long-advance chunk walk).
      */
    def decode(b: Array[Byte]): Option[DecodedVideo] = try {
      def tagAt(o: Int, s: String) =
        o >= 0 && o + 4 <= b.length && s.indices.forall(i => b(o + i) == s.charAt(i).toByte)
      def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      def hexDigit(c: Byte): Int =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else -1
      if (b.length < 12 || !tagAt(0, "RIFF") || !tagAt(8, "AVI ")) return None
      var usecPf = 0L; var scale = 0L; var rate = 0L
      var bitCount = 0; var compression = 0L; var dibW = 0; var dibH = 0
      var haveStrf = false
      // stream table: strl ordinal → kind; the FIRST 'vids' and first
      // PCM16 'auds' streams are the ones served
      var nStrl = 0; var curStrl = -1; var curKind = ""
      var vidStream = -1; var audStream = -1
      var audRate = 0L; var audChannels = 0; var audOk = false
      val framePayloads = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Int, Int)]
      val audioChunks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      // Walk one chunk sequence; visit LIST bodies recursively. Returns
      // false on any malformed size/offset so the caller punts cleanly.
      def walk(start: Int, end: Int, ctx: String, depth: Int = 0): Boolean = {
        // a crafted payload nesting LIST headers (~87k per MB) would
        // otherwise StackOverflowError past the Exception catch; real
        // AVI never nests past riff > hdrl/movi > strl/rec (depth 3)
        if (depth > 32) return false
        var off = start
        var ok = true
        while (ok && off + 8 <= end) {
          val sz = u32(off + 4)
          val dataOff = off + 8
          if (dataOff.toLong + sz > end) ok = false
          else {
            val len = sz.toInt
            if (tagAt(off, "LIST") && len >= 4) {
              val lt = new String(b, dataOff, 4, "US-ASCII")
              // rec : frame chunks grouped for interleaving — same ctx as movi
              val sub = if (lt == "rec ") "movi" else lt
              if (sub == "strl") { curStrl = nStrl; nStrl += 1; curKind = "" }
              if (sub == "hdrl" || sub == "strl" || sub == "movi")
                ok = walk(dataOff + 4, dataOff + len, sub, depth + 1)
            } else if (tagAt(off, "avih") && len >= 40) {
              usecPf = u32(dataOff)
            } else if (tagAt(off, "strh") && ctx == "strl" && len >= 56) {
              if (tagAt(dataOff, "vids") && vidStream < 0) {
                curKind = "vids"; vidStream = curStrl
                scale = u32(dataOff + 20); rate = u32(dataOff + 24)
              } else if (tagAt(dataOff, "auds") && audStream < 0) {
                curKind = "auds"; audStream = curStrl
                // rate/scale fallback if the strf is absent/odd
                val aScale = u32(dataOff + 20); val aRate = u32(dataOff + 24)
                if (aScale > 0) audRate = aRate / aScale
              }
            } else if (tagAt(off, "strf") && ctx == "strl") {
              if (curKind == "vids" && curStrl == vidStream && !haveStrf && len >= 40) {
                haveStrf = true
                dibW = u32(dataOff + 4).toInt; dibH = u32(dataOff + 8).toInt
                bitCount = u16(dataOff + 14); compression = u32(dataOff + 16)
              } else if (curKind == "auds" && curStrl == audStream && len >= 16) {
                // PCMWAVEFORMAT: only uncompressed 16-bit PCM is served
                audOk = u16(dataOff) == 1 && u16(dataOff + 14) == 16
                audChannels = u16(dataOff + 2)
                val sps = u32(dataOff + 4)
                if (sps > 0) audRate = sps
              }
            } else if (ctx == "movi" && hexDigit(b(off)) >= 0 &&
                hexDigit(b(off + 1)) >= 0) {
              // AVI stream ids are TWO HEX digits ('0A' = stream 10) —
              // decimal parsing would silently skip streams >= 10
              val sid = hexDigit(b(off)) * 16 + hexDigit(b(off + 1))
              if (sid == vidStream && (tagAt(off + 2, "db") || tagAt(off + 2, "dc")))
                framePayloads += ((b(off + 3) == 'b'.toByte, dataOff, len))
              else if (sid == audStream && tagAt(off + 2, "wb"))
                audioChunks += ((dataOff, len))
            }
            if (ok) {
              val next = off.toLong + 8L + sz + (sz & 1L)
              if (next <= off || next > Int.MaxValue) ok = false else off = next.toInt
            }
          }
        }
        ok
      }
      if (!walk(12, b.length, "riff")) return None
      val fps =
        if (scale > 0 && rate > 0) rate.toDouble / scale
        else if (usecPf > 0) 1e6 / usecPf
        else return None
      val frames = framePayloads.foldLeft(Option(Vector.empty[ImageCodec.Decoded])) {
        case (acc, (isDib, off, len)) => acc.flatMap { v =>
          val f =
            if (isDib) {
              if (haveStrf && bitCount == 24 && compression == 0L)
                decodeDib(b, off, len, dibW, dibH)
              else None
            } else ImageCodec.decode(java.util.Arrays.copyOfRange(b, off, off + len))
          f.map(v :+ _)
        }
      }
      // audio: concatenate 'wb' chunk payloads in stream order → PCM16 LE
      val audio =
        if (audStream >= 0 && audOk && audRate > 0 && audChannels > 0 &&
            audioChunks.nonEmpty) {
          val total = audioChunks.map(_._2.toLong).sum
          if (total > Int.MaxValue || (total & 1) == 1) None
          else {
            val out = new Array[Short]((total / 2).toInt)
            var w = 0
            audioChunks.foreach { case (off, len) =>
              var i = 0
              while (i < len / 2) {
                out(w) = (((b(off + 2 * i + 1) & 0xff) << 8) | (b(off + 2 * i) & 0xff)).toShort
                i += 1; w += 1
              }
            }
            Some(AudioCodec.DecodedAudio(audRate.toDouble, audChannels, out))
          }
        } else None
      frames.filter(_.nonEmpty)
        .map(fs => DecodedVideo(fs.head.width, fs.head.height, fps, fs, audio))
    } catch { case _: Exception => None }

    /** BI_RGB 24-bit DIB rows → packed ARGB. Positive biHeight means
      * bottom-up storage (the AVI norm); negative means top-down.
      */
    private def decodeDib(b: Array[Byte], off: Int, len: Int,
                          w: Int, hSigned: Int): Option[ImageCodec.Decoded] = {
      val h = math.abs(hSigned); val bottomUp = hSigned > 0
      // h <= 0 also rejects biHeight = Int.MinValue (whose abs is itself
      // negative) — the one crafted-header value the == 0 guard missed
      if (w <= 0 || h <= 0) return None
      // stride/extent in Long: a crafted biWidth near 2^31 overflows the
      // Int product and could pass the bounds check into a bad allocation;
      // divide instead of multiplying so strideL*h can never overflow Long
      val strideL = (w.toLong * 3 + 3) & ~3L
      if (strideL > len.toLong / h) return None
      val stride = strideL.toInt
      val px = new Array[Int](w * h)
      var sy = 0
      while (sy < h) {
        val iy = if (bottomUp) h - 1 - sy else sy
        var x = 0
        val ro = off + sy * stride
        while (x < w) {
          val o = ro + 3 * x
          px(iy * w + x) = 0xff000000 | ((b(o + 2) & 0xff) << 16) |
            ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)
          x += 1
        }
        sy += 1
      }
      Some(ImageCodec.Decoded(w, h, 3, px))
    }

    /** Frame-averaged pixel-histogram features — [[ImageCodec.features]]
      * per frame, mean-pooled across frames.
      */
    def features(d: DecodedVideo, dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      d.frames.foreach { f =>
        val fh = ImageCodec.features(f, dim)
        var j = 0
        while (j < dim) { out(j) += fh(j); j += 1 }
      }
      val n = d.frames.length.toFloat
      var j = 0
      while (j < dim) { out(j) /= n; j += 1 }
      out
    }
  }

  /** ISO-BMFF (MP4) CONTAINER metadata demux — the box-walk a real
    * corpus runs BEFORE paying GPU decode: duration, timescale, track
    * count, codec fourcc, and dimensions come from the moov box tree
    * (ftyp/mvhd/trak/tkhd/mdia/mdhd/hdlr/stbl/stsd) with zero new
    * dependencies. Frame DECODE of the mdat payload (H.264 etc.) is
    * genuinely impossible on a bare JDK and stays behind [[StubCodec]];
    * the container itself is fully parsed for real.
    *
    * The walk follows the [[VideoCodec.decode]] corrupt-chunk
    * discipline: box extents advance in Long (a crafted 32-bit size
    * can't wrap an offset), any size that escapes its enclosing box
    * punts the whole parse to None, nesting is depth-capped, and
    * 64-bit largesize / size-to-end-of-box forms are handled — a
    * crafted payload can never hang or kill an executor task.
    *
    * Box layouts per ISO/IEC 14496-12 (public spec): mvhd/tkhd/mdhd in
    * both version 0 (32-bit times) and version 1 (64-bit) forms;
    * stsd sample entries as VisualSampleEntry (width/height at entry
    * offset 32/34) or AudioSampleEntry (channelcount at 24,
    * samplerate 16.16 at 32), discriminated by the track's hdlr type.
    */
  object Mp4Codec {
    val mp4Mimes: Set[String] = Set("video/mp4", "audio/mp4", "video/quicktime")

    /** One parsed trak: id + duration from tkhd, handler from hdlr,
      * codec fourcc + per-kind geometry/rate from the first stsd entry.
      */
    case class TrackMeta(trackId: Long, handler: String, codec: String,
                         width: Int, height: Int,
                         sampleRate: Int, channels: Int, duration: Long)

    /** Movie-level facts: ftyp major brand, mvhd timescale/duration
      * (duration in timescale ticks), and every parsed track.
      */
    case class Mp4Meta(brand: String, timescale: Long, duration: Long,
                       tracks: Vector[TrackMeta]) {
      def durationMs: Double =
        if (timescale > 0) duration * 1000.0 / timescale else 0.0
    }

    /** Track synthesis spec for [[encodeMp4]]: handler "vide" or
      * "soun", the sample-entry fourcc, and kind-specific fields.
      * `samples` (r17) adds REAL sample tables: each byte array
      * becomes one sample in its own chunk (stts/stsc/stsz/stco
      * written from spec, stco holding absolute file offsets into the
      * mdat) — the layout a real MJPEG-in-MP4 writer emits.
      */
    case class TrackSpec(handler: String, codec: String,
                         width: Int = 0, height: Int = 0,
                         sampleRate: Int = 0, channels: Int = 0,
                         samples: Seq[Array[Byte]] = Nil,
                         sampleDelta: Long = 1L)

    private final class BeBuf {
      private val o = new ByteArrayOutputStream()
      def bytes(b: Array[Byte]): this.type = { o.write(b, 0, b.length); this }
      def tag(s: String): this.type = {
        s.foreach(c => o.write(c.toInt & 0xff)); this
      }
      def u16(v: Int): this.type = { o.write((v >> 8) & 0xff); o.write(v & 0xff); this }
      def u32(v: Long): this.type = {
        o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
        o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt); this
      }
      def zeros(n: Int): this.type = { var i = 0; while (i < n) { o.write(0); i += 1 }; this }
      def box(t: String, payload: Array[Byte]): this.type = {
        u32(payload.length + 8L); tag(t); bytes(payload)
      }
      def result: Array[Byte] = o.toByteArray
    }

    private val unityMatrix: BeBuf => Unit = b => {
      b.u32(0x00010000L).u32(0).u32(0)
      b.u32(0).u32(0x00010000L).u32(0)
      b.u32(0).u32(0).u32(0x40000000L); ()
    }

    /** Minimal spec-shaped MP4: `ftyp` + `moov` (mvhd + one trak per
      * spec, each with tkhd/mdia/mdhd/hdlr/minf/stbl/stsd) + `mdat`
      * with the given opaque payload. All durations are in the movie
      * timescale. The output exercises exactly the boxes a metadata
      * pass reads; it carries no sample tables (no frames to decode).
      */
    def encodeMp4(timescale: Long, duration: Long, tracks: Seq[TrackSpec],
                  mdat: Array[Byte] = Array.empty): Array[Byte] = {
      require(timescale > 0, "timescale must be positive")
      require(tracks.nonEmpty, "an MP4 needs at least one track")
      val ftyp = new BeBuf().tag("isom").u32(512).tag("isom").tag("mp42").result
      val mvhd = {
        val b = new BeBuf().u32(0) // version 0 + flags
          .u32(0).u32(0) // creation / modification
          .u32(timescale).u32(duration)
          .u32(0x00010000L).u16(0x0100).u16(0) // rate 1.0, volume 1.0
          .zeros(8)
        unityMatrix(b)
        b.zeros(24) // pre_defined[6]
          .u32(tracks.length + 1L) // next_track_ID
          .result
      }
      // sample data lays out in the mdat after the caller's explicit
      // payload, track order; stco needs ABSOLUTE file offsets, which
      // depend on moov's length — but moov's length does not depend on
      // the offset VALUES (fixed-width u32 entries), so a two-pass
      // build (probe with base 0, rebuild with the real base) is exact
      def sampleOffsetsAt(base: Long): Seq[Seq[Long]] = {
        var run = base + mdat.length
        tracks.map(_.samples.map { s => val o = run; run += s.length; o })
      }
      def traksOf(offsets: Seq[Seq[Long]]) = tracks.zipWithIndex.map { case (t, i) =>
        val tkhd = {
          val b = new BeBuf().u32(3) // version 0, flags enabled|in-movie
            .u32(0).u32(0)
            .u32(i + 1L).u32(0).u32(duration)
            .zeros(8)
            .u16(0).u16(0) // layer, alternate_group
            .u16(if (t.handler == "soun") 0x0100 else 0).u16(0)
          unityMatrix(b)
          b.u32(t.width.toLong << 16).u32(t.height.toLong << 16).result
        }
        val mdhd = new BeBuf().u32(0)
          .u32(0).u32(0).u32(timescale).u32(duration)
          .u16(0x55c4).u16(0) // language 'und'
          .result
        val hdlr = new BeBuf().u32(0).u32(0).tag(t.handler).zeros(12)
          .bytes(Array(0.toByte)) // empty NUL-terminated name
          .result
        val entry =
          if (t.handler == "vide") {
            // VisualSampleEntry: 6 reserved + dri, 16 pre/reserved,
            // width/height, 72.2 dpi, frame_count 1, compressorname,
            // depth 24, pre_defined -1
            new BeBuf().u32(86L).tag(t.codec)
              .zeros(6).u16(1).zeros(16)
              .u16(t.width).u16(t.height)
              .u32(0x00480000L).u32(0x00480000L).u32(0).u16(1)
              .zeros(32).u16(24).u16(0xffff).result
          } else {
            // AudioSampleEntry: 6 reserved + dri, 8 reserved,
            // channelcount, samplesize 16, 4 pre/reserved, rate 16.16
            new BeBuf().u32(36L).tag(t.codec)
              .zeros(6).u16(1).zeros(8)
              .u16(t.channels).u16(16).u16(0).u16(0)
              .u32(t.sampleRate.toLong << 16).result
          }
        val stsd = new BeBuf().u32(0).u32(1).bytes(entry).result
        val stblB = new BeBuf().box("stsd", stsd)
        if (t.samples.nonEmpty) {
          // one chunk per sample (§8.7.4/8.7.5): stts one run, stsc
          // one (1,1,1) entry, per-sample stsz, absolute-offset stco
          val stts = new BeBuf().u32(0).u32(1)
            .u32(t.samples.length.toLong).u32(t.sampleDelta).result
          val stsc = new BeBuf().u32(0).u32(1).u32(1).u32(1).u32(1).result
          val stszB = new BeBuf().u32(0).u32(0).u32(t.samples.length.toLong)
          t.samples.foreach(s => stszB.u32(s.length.toLong))
          val stcoB = new BeBuf().u32(0).u32(t.samples.length.toLong)
          offsets(i).foreach(o => stcoB.u32(o))
          stblB.box("stts", stts).box("stsc", stsc)
            .box("stsz", stszB.result).box("stco", stcoB.result)
        }
        val stbl = stblB.result
        val minf = new BeBuf().box("stbl", stbl).result
        val mdia = new BeBuf().box("mdhd", mdhd).box("hdlr", hdlr)
          .box("minf", minf).result
        new BeBuf().box("tkhd", tkhd).box("mdia", mdia).result
      }
      def moovOf(offsets: Seq[Seq[Long]]): Array[Byte] = {
        val b = new BeBuf().box("mvhd", mvhd)
        traksOf(offsets).foreach(tk => b.box("trak", tk))
        b.result
      }
      val mdatPayload = mdat ++ tracks.flatMap(_.samples).flatten.toArray
      val probeMoov = moovOf(sampleOffsetsAt(0L))
      // mdat payload starts after ftyp box + moov box + mdat header
      val mdatBase = (8L + ftyp.length) + (8L + probeMoov.length) + 8L
      new BeBuf().box("ftyp", ftyp).box("moov", moovOf(sampleOffsetsAt(mdatBase)))
        .box("mdat", mdatPayload).result
    }

    /** Parse container metadata from MP4 bytes; None for anything
      * corrupt, truncated, or not ISO-BMFF — never a guess, never a
      * hang. Unknown boxes are skipped by size (a real file's free /
      * udta / avcC boxes flow through untouched).
      */
    def parseMeta(b: Array[Byte]): Option[Mp4Meta] = try {
      def u16(o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      def u32(o: Int): Long = ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
      def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
      def tagAt(o: Int): String = new String(b, o, 4, "US-ASCII")
      var brand: Option[String] = None
      var timescale = 0L; var duration = -1L
      val tracks = scala.collection.mutable.ArrayBuffer.empty[TrackMeta]
      // current-trak accumulation (trak subtree is walked depth-first)
      var tId = 0L; var tDur = 0L; var tHandler = ""; var tCodec = ""
      var tW = 0; var tH = 0; var tRate = 0; var tCh = 0
      // Walk one box sequence [start, end). Returns false on any
      // malformed size so the caller punts the whole parse — the
      // VideoCodec corrupt-chunk discipline, extents always in Long.
      def walk(start: Long, end: Long, depth: Int): Boolean = {
        if (depth > 16) return false
        var off = start
        while (off + 8 <= end) {
          val size32 = u32(off.toInt)
          val t = tagAt(off.toInt + 4)
          var hdr = 8L
          var boxEnd = 0L
          if (size32 == 0L) boxEnd = end // box extends to end of scope
          else if (size32 == 1L) { // 64-bit largesize
            if (off + 16 > end) return false
            hdr = 16L
            val size64 = u64(off.toInt + 8)
            if (size64 < hdr) return false
            boxEnd = off + size64
          } else {
            if (size32 < hdr) return false
            boxEnd = off + size32
          }
          if (boxEnd > end) return false
          val p = off + hdr // payload start
          val plen = boxEnd - p
          t match {
            case "ftyp" if plen >= 4 && brand.isEmpty =>
              brand = Some(tagAt(p.toInt))
            case "moov" | "mdia" | "minf" | "stbl" =>
              if (!walk(p, boxEnd, depth + 1)) return false
            case "trak" =>
              tId = 0L; tDur = 0L; tHandler = ""; tCodec = ""
              tW = 0; tH = 0; tRate = 0; tCh = 0
              if (!walk(p, boxEnd, depth + 1)) return false
              tracks += TrackMeta(tId, tHandler, tCodec, tW, tH, tRate, tCh, tDur)
            case "mvhd" if plen >= 4 =>
              val v = b(p.toInt) & 0xff
              if (v == 1 && plen >= 32) { // u64 duration at +24 needs 32
                timescale = u32(p.toInt + 20); duration = u64(p.toInt + 24)
              } else if (v == 0 && plen >= 20) {
                timescale = u32(p.toInt + 12); duration = u32(p.toInt + 16)
              } else return false
            case "tkhd" if plen >= 4 =>
              val v = b(p.toInt) & 0xff
              if (v == 1 && plen >= 96) { // spec v1 TrackHeaderBox is 96 bytes
                tId = u32(p.toInt + 20); tDur = u64(p.toInt + 28)
                tW = (u32(p.toInt + 88) >> 16).toInt; tH = (u32(p.toInt + 92) >> 16).toInt
              } else if (v == 0 && plen >= 84) {
                tId = u32(p.toInt + 12); tDur = u32(p.toInt + 20)
                tW = (u32(p.toInt + 76) >> 16).toInt; tH = (u32(p.toInt + 80) >> 16).toInt
              } else return false
            case "hdlr" if plen >= 12 =>
              tHandler = tagAt(p.toInt + 8)
            case "stsd" if plen >= 16 =>
              val entries = u32(p.toInt + 4)
              if (entries >= 1) {
                val e = p + 8 // first sample entry
                val esize = u32(e.toInt)
                if (esize < 8 || e + esize > boxEnd) return false
                tCodec = tagAt(e.toInt + 4)
                if (tHandler == "vide" && esize >= 36) {
                  tW = u16(e.toInt + 32); tH = u16(e.toInt + 34)
                } else if (tHandler == "soun" && esize >= 36) {
                  tCh = u16(e.toInt + 24)
                  tRate = (u32(e.toInt + 32) >> 16).toInt
                }
              }
            case _ => () // unknown box: skip by size
          }
          if (boxEnd <= off) return false // no-progress guard
          off = boxEnd
        }
        true
      }
      if (b.length < 12 || !walk(0L, b.length.toLong, 0)) return None
      // an ISO-BMFF file without ftyp + moov facts is not served
      brand.filter(_ => timescale > 0 && duration >= 0)
        .map(br => Mp4Meta(br, timescale, duration, tracks.toVector))
    } catch { case _: Exception => None }

    /** Sample-entry fourccs whose samples a bare JDK can decode (the
      * Motion-JPEG family: each sample is an independent JPEG image).
      * Everything else (avc1 etc.) genuinely needs an external codec
      * and stays behind [[StubCodec]].
      */
    val JpegFourccs: Set[String] = Set("jpeg", "JPEG", "mjpa", "mjpg", "MJPG")

    /** Extract the raw samples of the first video track whose codec is
      * in `fourccs`, via the stsd/stsz/stsc/stco walk (§8.7): map each
      * sample to its chunk through the stsc run table, then to bytes
      * through the chunk's stco offset plus the sizes of its
      * preceding in-chunk samples. None for a corrupt/truncated/
      * non-matching container — every extent checked in Long against
      * the file length (a crafted table cannot read out of bounds or
      * hang), the [[parseMeta]] damage discipline.
      */
    def extractSamples(b: Array[Byte],
                       fourccs: Set[String] = JpegFourccs): Option[Seq[Array[Byte]]] = try {
      def u16(o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      def u32(o: Int): Long = ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
      def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
      def tagAt(o: Int): String = new String(b, o, 4, "US-ASCII")
      // per-trak table ranges (payload start, payload end)
      final case class Tak(handler: String, codec: String,
                           stsz: (Long, Long), stsc: (Long, Long),
                           stco: (Long, Long), co64: Boolean)
      val taks = scala.collection.mutable.ArrayBuffer.empty[Tak]
      var tHandler = ""; var tCodec = ""
      var tStsz = (-1L, -1L); var tStsc = (-1L, -1L); var tStco = (-1L, -1L)
      var tCo64 = false
      def walk(start: Long, end: Long, depth: Int): Boolean = {
        if (depth > 16) return false
        var off = start
        while (off + 8 <= end) {
          val size32 = u32(off.toInt)
          val t = tagAt(off.toInt + 4)
          var hdr = 8L
          var boxEnd = 0L
          if (size32 == 0L) boxEnd = end
          else if (size32 == 1L) {
            if (off + 16 > end) return false
            hdr = 16L
            val size64 = u64(off.toInt + 8)
            if (size64 < hdr) return false
            boxEnd = off + size64
          } else {
            if (size32 < hdr) return false
            boxEnd = off + size32
          }
          if (boxEnd > end) return false
          val p = off + hdr
          t match {
            case "moov" | "mdia" | "minf" | "stbl" =>
              if (!walk(p, boxEnd, depth + 1)) return false
            case "trak" =>
              tHandler = ""; tCodec = ""
              tStsz = (-1L, -1L); tStsc = (-1L, -1L); tStco = (-1L, -1L); tCo64 = false
              if (!walk(p, boxEnd, depth + 1)) return false
              taks += Tak(tHandler, tCodec, tStsz, tStsc, tStco, tCo64)
            case "hdlr" if boxEnd - p >= 12 => tHandler = tagAt(p.toInt + 8)
            case "stsd" if boxEnd - p >= 16 =>
              val e = p + 8
              if (u32(e.toInt) >= 8 && e + 8 <= boxEnd) tCodec = tagAt(e.toInt + 4)
            case "stsz" => tStsz = (p, boxEnd)
            case "stsc" => tStsc = (p, boxEnd)
            case "stco" => tStco = (p, boxEnd); tCo64 = false
            case "co64" => tStco = (p, boxEnd); tCo64 = true
            case _ => ()
          }
          if (boxEnd <= off) return false
          off = boxEnd
        }
        true
      }
      if (b.length < 12 || !walk(0L, b.length.toLong, 0)) return None
      val tk = taks.find(t => t.handler == "vide" && fourccs.contains(t.codec) &&
        t.stsz._1 >= 0 && t.stsc._1 >= 0 && t.stco._1 >= 0).getOrElse(return None)
      // stsz: version/flags, uniform sample_size, count, [sizes]
      val (szP, szEnd) = tk.stsz
      if (szEnd - szP < 12) return None
      val uniform = u32(szP.toInt + 4)
      val n = u32(szP.toInt + 8)
      if (n <= 0 || n > (1L << 20)) return None // a crafted count cannot balloon
      val sizes: IndexedSeq[Long] =
        if (uniform != 0) IndexedSeq.fill(n.toInt)(uniform)
        else {
          if (szEnd - szP < 12 + 4 * n) return None
          (0 until n.toInt).map(i => u32(szP.toInt + 12 + 4 * i))
        }
      // stsc: count, entries (first_chunk, samples_per_chunk, sdi)
      val (scP, scEnd) = tk.stsc
      if (scEnd - scP < 8) return None
      val scN = u32(scP.toInt + 4)
      if (scN <= 0 || scEnd - scP < 8 + 12 * scN) return None
      val stsc = (0 until scN.toInt).map { i =>
        (u32(scP.toInt + 8 + 12 * i), u32(scP.toInt + 8 + 12 * i + 4))
      }
      // stco/co64: count, offsets
      val (coP, coEnd) = tk.stco
      if (coEnd - coP < 8) return None
      val coN = u32(coP.toInt + 4)
      val w = if (tk.co64) 8 else 4
      if (coN <= 0 || coEnd - coP < 8 + w * coN) return None
      val chunkOff = (0 until coN.toInt).map(i =>
        if (tk.co64) u64(coP.toInt + 8 + 8 * i) else u32(coP.toInt + 8 + 4 * i))
      // walk chunks, assigning samples per the stsc run in force
      val out = Seq.newBuilder[Array[Byte]]
      var s = 0
      var e = 0
      var chunk = 1L
      while (chunk <= coN && s < n) {
        while (e + 1 < stsc.length && stsc(e + 1)._1 <= chunk) e += 1
        var off = chunkOff(chunk.toInt - 1)
        var k = 0L
        while (k < stsc(e)._2 && s < n) {
          val size = sizes(s)
          if (off < 0 || size < 0 || off + size > b.length) return None
          out += java.util.Arrays.copyOfRange(b, off.toInt, (off + size).toInt)
          off += size; s += 1; k += 1
        }
        chunk += 1
      }
      if (s < n) return None // tables promise more samples than chunks hold
      Some(out.result())
    } catch { case _: Exception => None }

    /** Decode the MJPEG video samples of an MP4 to raster frames —
      * the second REAL container (after RIFF/AVI) closed end to end.
      * All-or-nothing per asset: one undecodable sample poisons the
      * whole file ([[VideoCodec.decode]]'s corrupt-chunk discipline —
      * a half-decoded video would silently under-count frames).
      */
    def decodeVideoFrames(b: Array[Byte]): Option[Seq[ImageCodec.Decoded]] =
      extractSamples(b).flatMap { samples =>
        val dec = samples.flatMap(s =>
          try ImageCodec.decode(s) catch { case _: Exception => None })
        if (dec.nonEmpty && dec.length == samples.length) Some(dec) else None
      }
  }

  /** Deterministic MP4 asset view of the `documents` table: each
    * document becomes a genuine ISO-BMFF file (encoded in-task through
    * [[Mp4Codec.encodeMp4]]) whose timescale, duration, track layout,
    * codecs, dims, and audio shape are pure formulas of
    * (doc_id, n_chars) — so DuckDB oracles the parsed metadata from
    * the formulas alone while the engine runs the real box walk.
    * Documents with `doc_id % 3 == 0` are video-only; the rest carry a
    * second mp4a audio track.
    */
  def mp4AssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id", "n_chars").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0); val nChars = r.getLong(1)
          val ts = 600L * (id % 4 + 1)
          val dur = nChars % 5000 + 100
          val w = (nChars % 640 + 16).toInt
          val h = (id % 480 + 16).toInt
          val video = Mp4Codec.TrackSpec("vide", "avc1", width = w, height = h)
          val tracks =
            if (id % 3 == 0) Seq(video)
            else Seq(video, Mp4Codec.TrackSpec("soun", "mp4a",
              sampleRate = (8000 + (id % 3) * 4000).toInt,
              channels = (id % 2 + 1).toInt))
          val mdat = Array.tabulate((nChars % 32 + 1).toInt)(i => ((id + i) % 256).toByte)
          Row(id, Mp4Codec.encodeMp4(ts, dur, tracks, mdat), "video/mp4", w, h)
        }
      }
    }(enc)
  }

  /** Real MP4 metadata demux: one row per parseable asset —
    * `(asset_id, brand, timescale, duration_ticks, duration_ms,
    * n_tracks, video_codec, width, height, audio_codec, audio_rate,
    * audio_channels)`. Video facts from the first `vide` track, audio
    * facts from the first `soun` track (null when absent). Corrupt /
    * non-MP4 payloads yield no rows (poison-safe skip). Batched
    * `mapPartitions`, shuffle-free — the [[decodeImages]] scale shape:
    * this is the metadata-pruning pass a 100-TB video corpus runs
    * BEFORE paying any GPU decode.
    */
  def mp4Meta(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("brand", StringType, nullable = false),
      StructField("timescale", LongType, nullable = false),
      StructField("duration_ticks", LongType, nullable = false),
      StructField("duration_ms", DoubleType, nullable = false),
      StructField("n_tracks", IntegerType, nullable = false),
      StructField("video_codec", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("audio_codec", StringType, nullable = true),
      StructField("audio_rate", IntegerType, nullable = true),
      StructField("audio_channels", IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val meta =
            if (Mp4Codec.mp4Mimes.contains(r.getString(2)))
              Mp4Codec.parseMeta(r.getAs[Array[Byte]](1))
            else None
          meta.map { m =>
            val v = m.tracks.find(_.handler == "vide")
            val a = m.tracks.find(_.handler == "soun")
            Row(r.getLong(0), m.brand, m.timescale, m.duration, m.durationMs,
              m.tracks.length,
              v.map(_.codec).orNull,
              v.map(t => Int.box(t.width)).orNull,
              v.map(t => Int.box(t.height)).orNull,
              a.map(_.codec).orNull,
              a.map(t => Int.box(t.sampleRate)).orNull,
              a.map(t => Int.box(t.channels)).orNull)
          }
        }
      }
    }(enc)
  }

  /** STUB decode/embed kernel for frame CODECS the JDK genuinely
    * cannot decode (H.264/HEVC/AAC sample data) — a deterministic
    * stand-in (rolling FNV-1a of the payload folded per feature slot
    * into [0, 1) floats) with the same signature a real codec adapter
    * would have: stable across JVMs/partitionings, so pipeline tests
    * assert real equalities. No CONTAINER goes through this anymore:
    * image, audio, and AVI mimes decode for real via [[ImageCodec]] /
    * [[AudioCodec]] / [[VideoCodec]], and MP4/ISO-BMFF metadata
    * demuxes for real via [[Mp4Codec]] — only the compressed sample
    * payloads inside an MP4 remain stubbed.
    */
  object StubCodec {
    def featuresOf(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 2166136261L
      var i = 0
      while (i < bytes.length) {
        h = (h ^ (bytes(i) & 0xffL)) * 16777619L & 0xffffffffL
        out(i % dim) = ((h % 104729L).toFloat / 104729f)
        i += 1
      }
      out
    }
  }

  /** Deterministic media-asset view of the `documents` table — the
    * driver corpus has no binary column, so the declared multimodal
    * queries treat each document's UTF-8 bytes as an opaque payload
    * with synthesized (but deterministic, hence oracle-able) pixel
    * metadata. The pipeline around the payload — schema, batching,
    * frame math, resize math — is exactly what a real binary column
    * would flow through.
    */
  def assetsFromDocuments(documents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    documents.select(
      col("doc_id").as("asset_id"),
      col("text").cast("binary").as("media"),
      lit("text/plain").as("mime"),
      (pmod(col("n_chars"), lit(640)) + 32).cast("int").as("width"),
      (pmod(col("doc_id"), lit(480)) + 32).cast("int").as("height"))
  }

  /** Deterministic REAL-PNG asset view of the `documents` table: each
    * document becomes a solid-color PNG whose dims and color are pure
    * formulas of (doc_id, n_chars). The payloads are genuine PNG bytes
    * (encoded with ImageIO inside the task), so the decode queries
    * exercise the real codec end to end, while DuckDB can still oracle
    * the decoded metadata/stats from the formulas alone.
    *
    * Encoding runs in batched `mapPartitions` — the codec-session shape
    * — and the declared width/height columns are intentionally NOT
    * trusted by the decode operators (they re-derive dims from pixels).
    */
  def pngAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id", "n_chars").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0); val nChars = r.getLong(1)
          val w = (nChars % 60 + 4).toInt
          val h = (id % 40 + 4).toInt
          val cr = (id % 256).toInt
          val cg = ((id * 7 + 13) % 256).toInt
          val cb = (nChars % 256).toInt
          Row(id, ImageCodec.solidPng(w, h, cr, cg, cb), "image/png", w, h)
        }
      }
    }(enc)
  }

  /** Deterministic STRUCTURED image assets for perceptual dedup: each
    * document becomes a gray gradient-field PNG at 36×32 whose 9×8
    * nearest-neighbor downsample lands exactly on the synthesis grid —
    * cell (x,y) of the downsample has luma
    * `10 + md5Int("<doc_id>:<x>:<y>:dhash") mod 230` (r=g=b, so luma is
    * the value itself — and md5 makes all 64 bits INDEPENDENT across
    * docs, the [[graft.functions.Portable]] convention), making the
    * full 64-bit dHash a closed-form SQL formula. Planted variants per
    * doc:
    *   - `asset_id = doc_id·10`: the base 36×32 PNG (every doc)
    *   - `+1` (even doc_id): the SAME field at 72×64 — a genuine 2×
    *     rescale; grid-aligned, so dHash-identical
    *   - `+2` (odd doc_id): the same pixels re-encoded as BMP —
    *     container change, dHash-identical
    *   - `+3` (doc_id % 5 == 0): cell (0,0) blown to 255 — a NEAR
    *     duplicate at Hamming ≤ 1 (bit 0 flips iff the base had
    *     luma(0,0) ≤ luma(1,0); every other bit is untouched)
    * Distinct documents differ in ~32 of 64 independent bits (binomial
    * tail past Hamming 6 ≈ 4·10⁻¹² per pair) — no cross-doc pair lands
    * within any sane threshold.
    */
  /** The fixture pixel field of doc `id` at `scale`× the 9×8 grid —
    * shared by [[dhashAssetsFromDocuments]] and the WARC mixed-media
    * corpus so crawled image payloads carry the SAME closed-form
    * hashes.
    */
  private[graft] def dhashFixturePixels(id: Long, scale: Int,
                                        perturb: Boolean = false): Array[Int] = {
    def v(x: Int, y: Int): Int =
      (10 + graft.functions.Portable.md5IntOf(s"$id:$x:$y:dhash") % 230).toInt
    Array.tabulate(9 * scale * 8 * scale) { i =>
      val cx = (i % (9 * scale)) / scale
      val cy = (i / (9 * scale)) / scale
      val g = if (perturb && cx == 0 && cy == 0) 255 else v(cx, cy)
      0xff000000 | (g << 16) | (g << 8) | g
    }
  }

  /** Doc `id`'s base 36×32 gradient-field PNG. */
  def dhashBasePng(id: Long): Array[Byte] =
    ImageCodec.encodePng(36, 32, dhashFixturePixels(id, 4))

  def dhashAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    // per-row ImageIO encode work dwarfs the 8-byte input rows: spread
    // a narrow single-file scan across cores before paying it
    graft.functions.Skew.spreadToCores(documents.select("doc_id")).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          def px(scale: Int, perturb: Boolean) = dhashFixturePixels(id, scale, perturb)
          val base = Row(id * 10,
            ImageCodec.encodePng(36, 32, px(4, perturb = false)), "image/png", 36, 32)
          val variant =
            if (id % 2 == 0)
              Row(id * 10 + 1,
                ImageCodec.encodePng(72, 64, px(8, perturb = false)), "image/png", 72, 64)
            else
              Row(id * 10 + 2,
                ImageCodec.encodeBmp(36, 32, px(4, perturb = false)), "image/bmp", 36, 32)
          val near =
            if (id % 5 == 0)
              Seq(Row(id * 10 + 3,
                ImageCodec.encodePng(36, 32, px(4, perturb = true)), "image/png", 36, 32))
            else Seq.empty
          Seq(base, variant) ++ near
        }
      }
    }(enc)
  }

  /** Perceptual fingerprints: decode each asset and dHash it. Output
    * `(asset_id, dhash, dhash_bits, decoded)` — the Long for the
    * Hamming machinery, the bit string for portability. Undecodable
    * payloads flag `decoded = false` with null hash (poison-safe).
    * Batched `mapPartitions`, shuffle-free — the metadata-sized output
    * (16 B/asset) is what downstream dedup shuffles, never pixels.
    */
  def imageDhash(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = true),
      StructField("dhash_bits", StringType, nullable = true),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val dec =
            if (ImageCodec.imageMimes.contains(r.getString(2)))
              try ImageCodec.decode(r.getAs[Array[Byte]](1)) catch { case _: Exception => None }
            else None
          dec match {
            case Some(d) =>
              val h = ImageCodec.dhash(d)
              Row(r.getLong(0), h, ImageCodec.dhashBits(h), true)
            case None => Row(r.getLong(0), null, null, false)
          }
        }
      }
    }(enc)
  }

  /** Perceptual NEAR-DUP pairs over dHash fingerprints: band the 64-bit
    * hash into eight 8-bit bands, equi-join on (band_ix, band) for
    * candidates — by pigeonhole, any pair within Hamming ≤ 7 shares at
    * least one clean band, so recall is EXACT for maxHamming ≤ 7 — then
    * verify the true Hamming distance (`bit_count(xor)`, codegen) on
    * candidates only. The published MinHash-LSH shape applied to the
    * image tier: the only shuffle is on 9-byte band keys; pixels never
    * move.
    *
    * DENSITY GUARD (what keeps the funnel sub-quadratic at 100×): an
    * 8-bit band key has only 256 values per band index, so a naive
    * band join has a STRUCTURAL candidate floor of Σ 8·256·(N/256)² ≈
    * N²/32 — invisible at 10⁵ assets, fatal at 10⁹. Three guards make
    * candidate work content-driven instead:
    *   1. Hamming-0 collapse — identical hashes (the bulk of real
    *      crawl image duplication) collapse to ONE representative
    *      before banding; exact-dup pairs come from a plain equi-join
    *      on the full 64-bit hash, whose collision mass is true dup
    *      mass, never band geometry.
    *   2. COMBINATION keys for the common budgets — at maxHamming ≤ 6
    *      at most 6 of 8 bands are dirty, so ≥ 2 are clean and every
    *      qualifying pair shares one of the C(8,2) = 28 band-PAIR
    *      (16-bit) keys ([[bandedPairHashes]], the Manku et al. WWW'07
    *      combination-table construction): recall stays
    *      pigeonhole-exact while the structural floor drops 256× per
    *      key (measured 381M → 10.7M rep-level candidate rows at 110k
    *      distinct hashes — 0.7% of the N²/32 floor, dhashscale).
    *      maxHamming = 7 (one clean band guaranteed) falls back to
    *      the 8 single-band keys.
    *   3. A per-bucket df cap — any (band_ix, band) bucket holding
    *      more than `bandDfCap` DISTINCT hashes is skipped (the
    *      published simhash-dedup practice). The over-cap relation is
    *      tiny by construction (≤ keys·D/cap rows), so the guard is a
    *      broadcast anti-join. RECALL CAVEAT: a pair is found iff it
    *      shares at least one clean key under the cap; pairs whose
    *      every clean key is over-dense are missed. At the default
    *      cap the worst bucket costs cap² ≈ 1.7·10⁷ cheap word ops —
    *      bounded regardless of corpus size.
    */
  /** The banded LSH form of a `(asset_id, dhash)` relation for the
    * persisted [[writeDhashStore]] layout — BAND-PAIR (16-bit) keys,
    * matching [[bandedPairHashes]]: the store serves Hamming budgets
    * ≤ 6 (the incremental contract), where two clean bands are
    * guaranteed and the 28-combination key keeps bucket density
    * content-driven.
    */
  private def bandedOf(h: DataFrame): DataFrame = {
    def band8(i: Int): Column =
      expr(s"shiftrightunsigned(dhash, ${i * 8})").bitwiseAND(lit(255L))
    val combos = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
    val keys = array(combos.zipWithIndex.map { case ((i, j), ix) =>
      struct(lit(ix).as("band_ix"),
        (band8(i) * lit(256L) + band8(j)).as("band"))
    }: _*)
    h.select(col("asset_id"), col("dhash"), explode(keys).as("k"))
      .select(col("asset_id"), col("dhash"),
        col("k.band_ix").as("band_ix"), col("k.band").as("band"))
  }

  /** The 8-band form of a bare `(dhash)` relation (representative
    * level — post Hamming-0 collapse). Single 8-bit bands: the
    * maxHamming = 7 key (pigeonhole needs only ONE clean band).
    */
  private def bandedHashes(hashes: DataFrame): DataFrame =
    hashes.select(col("dhash"), explode(sequence(lit(0), lit(7))).as("band_ix"))
      .withColumn("band",
        expr("shiftrightunsigned(dhash, band_ix * 8)").bitwiseAND(lit(255L)))

  /** The 28 BAND-PAIR (16-bit) keys of a `(dhash)` relation — the
    * Manku et al. (WWW'07) combination-table construction: a pair
    * within Hamming ≤ 6 dirties at most 6 of the 8 bands, so at least
    * TWO bands are clean and the pair shares at least one of the
    * C(8,2) = 28 band-PAIR keys — recall stays pigeonhole-exact while
    * the per-key value space grows 256 → 65536, collapsing the
    * structural collision floor from D²/32 (8-bit keys) to
    * 28·D²/2¹⁷ ≈ D²/4681. `band_ix` enumerates the (i,j) combination;
    * `band` packs band_i·256 + band_j.
    */
  private def bandedPairHashes(hashes: DataFrame): DataFrame = {
    def band8(i: Int): Column =
      expr(s"shiftrightunsigned(dhash, ${i * 8})").bitwiseAND(lit(255L))
    val combos = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
    val keys = array(combos.zipWithIndex.map { case ((i, j), ix) =>
      struct(lit(ix).as("band_ix"),
        (band8(i) * lit(256L) + band8(j)).as("band"))
    }: _*)
    hashes.select(col("dhash"), explode(keys).as("k"))
      .select(col("dhash"), col("k.band_ix").as("band_ix"), col("k.band").as("band"))
  }

  /** Key layout for a Hamming budget: band pairs for ≤ 6 (two clean
    * bands guaranteed), single bands for 7 (only one clean guaranteed).
    */
  private def bandedFor(hashes: DataFrame, maxHamming: Int): DataFrame =
    if (maxHamming <= 6) bandedPairHashes(hashes) else bandedHashes(hashes)

  /** Over-dense (band_ix, band) buckets of a banded relation. The
    * FILTERED relation is tiny by construction (a bucket exceeds the
    * cap only by holding > cap distinct hashes, so there are at most
    * keys·D/cap such rows), so the guard is a broadcast anti-join.
    */
  private def denseBands(banded: DataFrame, bandDfCap: Int): DataFrame =
    banded.groupBy("band_ix", "band").agg(count(lit(1)).as("df"))
      .filter(col("df") > bandDfCap)
      .select("band_ix", "band")

  /** Representative-level band candidates of a distinct-hash relation:
    * unordered `(dhash, dhash2)` rows with `dhash < dhash2`, one row
    * per shared under-cap key (callers verify Hamming then dedup).
    * Visible to the specs so they can pin the candidate VOLUME — the
    * quantity the density guard exists to bound.
    */
  private[graft] def dhashBandCandidates(distinctHashes: DataFrame, bandDfCap: Int = 4096,
                                         maxHamming: Int = 6): DataFrame = {
    val banded = bandedFor(distinctHashes, maxHamming)
    val guarded = banded
      .join(broadcast(denseBands(banded, bandDfCap)),
        Seq("band_ix", "band"), "left_anti")
    val other = guarded.select(col("dhash").as("dhash2"), col("band_ix"), col("band"))
    guarded.join(other, Seq("band_ix", "band"))
      .filter(col("dhash") < col("dhash2"))
      .select("dhash", "dhash2")
  }

  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 6,
                        bandDfCap: Int = 4096): DataFrame = {
    require(maxHamming <= 7, "8×8-bit banding guarantees recall only to Hamming 7")
    // CUT the lineage before the self-joins: all sides descend from
    // `hashes`, whose upstream is a full decode+hash pass — an uncut
    // plan would pay the pixels repeatedly for a 16-byte/asset relation
    // localCheckpoint (r18): same eager cut, block-level — the r17
    // reliable checkpoint paid a filesystem write+read per run for a
    // within-run intermediate
    val h = hashes.filter(col("decoded")).select("asset_id", "dhash")
      .localCheckpoint(true)
    // Hamming-0 pairs: plain equi-join on the full hash (guard #1 —
    // exact-dup mass never enters the band funnel, and its recall is
    // unconditional: the df cap cannot lose these)
    val zero = h.join(h.select(col("asset_id").as("id2"), col("dhash")), Seq("dhash"))
      .filter(col("asset_id") < col("id2"))
      .select(col("asset_id").as("id1"), col("id2"), lit(0).as("hamming"))
    // Hamming 1..max: banded candidates over DISTINCT hashes (guard #2
    // applies), verified by codegen bit_count, then expanded back to
    // every member of each hash group
    val repPairs = dhashBandCandidates(h.select("dhash").distinct(), bandDfCap, maxHamming)
      .withColumn("hamming", bit_count(col("dhash").bitwiseXOR(col("dhash2"))))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = repPairs
      .join(h.select(col("asset_id").as("a1"), col("dhash")), Seq("dhash"))
      .join(h.select(col("asset_id").as("a2"), col("dhash").as("dhash2")), Seq("dhash2"))
      .select(least(col("a1"), col("a2")).as("id1"),
        greatest(col("a1"), col("a2")).as("id2"), col("hamming"))
    zero.unionByName(cross)
  }

  /** Persisted BANDED dHash store for incremental perceptual dedup:
    * the corpus representatives' 28 band-PAIR `(band_ix, band)` LSH
    * keys plus the full 64-bit hash, saved bucketed (and sorted) by
    * the band key — `Dedup.writeDigestStore`'s contract at perceptual
    * granularity, [[bandedPairHashes]]'s key layout (serves Hamming
    * budgets ≤ 6).
    * Repeat image ingestion's candidate join then reads the store
    * PRE-PARTITIONED on its join key: no store-side Exchange, ever,
    * and candidate work stays Σ_band collisions, never batch×corpus.
    */
  /** Key-layout contract of the persisted store. The r16 rework changed
    * the on-disk keys from 8 single bands to 28 band pairs; a store
    * written under one layout probed under the other joins on keys
    * that almost never match — near-dup batch assets would silently
    * classify as novel. The version is stamped as a table property at
    * write time and validated on EVERY probe path (the store is an
    * explicitly cross-session contract, so "the same JVM wrote it" is
    * not an assumption the reader may make).
    */
  private val DhashLayoutKey = "graft.dhash.layout"
  private val DhashLayoutVersion = "band-pair-28-v2"

  private def assertDhashLayout(spark: org.apache.spark.sql.SparkSession,
                                table: String): Unit = {
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties
    val got = props.getOrElse(DhashLayoutKey, "<absent — pre-band-pair store>")
    require(got == DhashLayoutVersion,
      s"dhash store $table has key layout '$got' but this build probes " +
        s"'$DhashLayoutVersion' — rebuild the store with writeDhashStore " +
        "(probing across layouts silently classifies near-dups as novel)")
  }

  def writeDhashStore(hashes: DataFrame, table: String, buckets: Int = 16): Unit = {
    // Hamming-0 collapse at WRITE time (density guard #1, store side):
    // the store answers "does any representative lie within
    // maxHamming" — distinct hashes carry that answer exactly, and a
    // crawl's exact-dup mass (its bulk) never inflates bucket density.
    // The kept asset_id is the min member — informative, not load-bearing.
    bandedOf(hashes.filter(col("decoded"))
        .groupBy("dhash").agg(min(col("asset_id")).as("asset_id"))
        .select("asset_id", "dhash"))
      .write.mode("overwrite")
      .bucketBy(buckets, "band_ix", "band").sortBy("band_ix", "band")
      .saveAsTable(table)
    hashes.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('$DhashLayoutKey' = '$DhashLayoutVersion')")
  }

  /** Ingestion-time perceptual image dedup against the store: a batch
    * asset survives iff (a) NO stored representative lies within
    * `maxHamming` (banded candidates → exact `bit_count` verify) and
    * (b) it is its batch-internal near-dup cluster's representative
    * (min asset_id over the connected candidate graph — transitive,
    * like every dedup family here). Returns the kept
    * `(asset_id, dhash, dhash_bits)` rows — the NEW representatives.
    * `absorb = true` appends their banded form through the bucket spec
    * — O(batch), replay-idempotent (a replayed batch's assets sit at
    * Hamming 0 from their own stored copies: keeps nothing, appends
    * nothing).
    */
  def incrementalImageNearDup(spark: org.apache.spark.sql.SparkSession,
                              table: String, batchHashes: DataFrame,
                              maxHamming: Int = 6,
                              absorb: Boolean = true,
                              bandDfCap: Int = 4096): DataFrame = {
    require(maxHamming <= 6,
      "the band-PAIR store layout guarantees recall only to Hamming 6 " +
        "(two clean bands needed); rebuild with single-band keys for 7")
    // cross-session freshness: the clusterStoreLabels refresh contract
    spark.catalog.refreshTable(table)
    // cut: `batch` feeds the candidate join, the anti-join, AND the
    // batch-internal pair pass — without the cut the decode pipeline
    // above re-executes per consumer
    val batch = batchHashes.filter(col("decoded"))
      .select("asset_id", "dhash", "dhash_bits")
      .localCheckpoint(true) // block-level eager cut (r18): no FS round-trip
    // probe the store once per DISTINCT batch hash (guard #1: a batch
    // of M copies of one image pays one probe, not M), then map the
    // matched-hash verdicts back to every member asset
    val matchedHashes = dhashStoreCandidates(spark, table, batch, bandDfCap)
      .filter(bit_count(col("dhash").bitwiseXOR(col("rep_hash"))) <= maxHamming)
      .select("dhash").distinct()
    val matched = batch.join(matchedHashes, Seq("dhash"), "left_semi")
      .select("asset_id")
    val novel = batch.join(matched, Seq("asset_id"), "left_anti").localCheckpoint(true)
    // batch-internal transitive keep-one among the store-novel assets.
    // The pair relation is BATCH-BOUNDED (candidate collisions of one
    // ingest batch), so the normal path is the driver-local min-label
    // union-find (the Graph.ccAbsorbParts fast path): collect the
    // pairs, drop every non-minimal member. Falls back to the
    // distributed clustering past the cap.
    val pairs = imageNearDupPairs(novel.withColumn("decoded", lit(true)),
        maxHamming, bandDfCap)
      .select("id1", "id2")
    // batch-internal transitive keep-one: the shared capped driver
    // union-find with distributed fallback (Dedup.nonMinMembers — the
    // ccAbsorbParts discipline, r17-factored so the embedding-tier
    // store shares it)
    val kept = novel.join(
      Dedup.nonMinMembers(pairs).withColumnRenamed("doc_id", "asset_id"),
      Seq("asset_id"), "left_anti")
    if (!absorb) kept
    else {
      val pinned = kept.localCheckpoint(true) // materialize before the store moves
      bandedOf(pinned.select("asset_id", "dhash"))
        .write.mode("append")
        .bucketBy(bucketCountOfTable(spark, table), "band_ix", "band")
        .sortBy("band_ix", "band")
        .saveAsTable(table)
      pinned
    }
  }

  /** The banded candidate join of a batch against the store —
    * `(dhash, rep_hash, band_ix, band)` rows (one per DISTINCT batch
    * hash per shared band) whose exact Hamming distance the caller
    * verifies. Factored out so the store-side exchange-free plan
    * property is pinnable (the absorb path executes it eagerly behind
    * a checkpoint).
    *
    * Density guard: store buckets holding more than `bandDfCap`
    * representatives are skipped (same recall caveat as
    * [[imageNearDupPairs]]) — each probe hash then touches at most
    * 28·cap stored reps (one cap per band-pair key) instead of a
    * structural |store|/4681. The over-cap relation is small by
    * construction (a bucket exceeds the cap only by holding > cap
    * distinct reps, so at most 28·D/cap rows exist), and its
    * aggregation groups on the store's own bucket keys, so neither
    * side of the guard adds an Exchange to the store scan.
    */
  def dhashStoreCandidates(spark: org.apache.spark.sql.SparkSession,
                           table: String, batch: DataFrame,
                           bandDfCap: Int = 4096): DataFrame = {
    assertDhashLayout(spark, table)
    val store = spark.table(table)
    val dense = store.groupBy("band_ix", "band").agg(count(lit(1)).as("df"))
      .filter(col("df") > bandDfCap).select("band_ix", "band")
    bandedPairHashes(batch.select("dhash").distinct())
      .join(broadcast(dense), Seq("band_ix", "band"), "left_anti")
      .join(store.select(col("dhash").as("rep_hash"),
        col("band_ix"), col("band")), Seq("band_ix", "band"))
  }

  private def bucketCountOfTable(spark: org.apache.spark.sql.SparkSession,
                                 table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"store table $table has no bucket spec"))

  /** Deterministic REAL multi-frame GIF asset view of the `documents`
    * table: each document becomes a genuine animated-style GIF
    * (encoded in-task through the JDK sequence writer) whose frame
    * count, dims, and per-frame solid colors are pure formulas of
    * (doc_id, n_chars) — the multi-frame analog of
    * [[pngAssetsFromDocuments]], so frame-extraction queries exercise
    * a REAL multi-image codec end to end while DuckDB oracles every
    * frame's stats from the formulas alone.
    */
  def gifAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id", "n_chars").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0); val nChars = r.getLong(1)
          val w = (nChars % 30 + 4).toInt
          val h = (id % 20 + 4).toInt
          val nf = (id % 4 + 2).toInt
          val colors = (0 until nf).map { i =>
            (((id + 37L * i) % 256).toInt,
              ((id * 7 + 13 + 11L * i) % 256).toInt,
              ((nChars + 29L * i) % 256).toInt)
          }
          Row(id, ImageCodec.encodeGifFrames(w, h, colors), "image/gif", w, h)
        }
      }
    }(enc)
  }

  /** Real multi-frame decode: every `stride`-th stored frame of each
    * image payload as `(asset_id, frame_idx, n_frames, width, height,
    * mean_r, mean_g, mean_b)` — frame extraction through the real
    * multi-image reader ([[ImageCodec.decodeFrames]]), the video-style
    * sampling shape with an actual codec behind it. Non-image/corrupt
    * payloads yield no rows (poison-safe skip). Batched
    * `mapPartitions`, shuffle-free — the [[decodeImages]] scale shape.
    */
  def decodeGifFrames(assets: DataFrame, stride: Int = 1,
                      batchSize: Int = 64): DataFrame = {
    require(stride >= 1, "stride must be positive")
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val id = r.getLong(0)
          val frames =
            if (ImageCodec.imageMimes.contains(r.getString(2)))
              ImageCodec.decodeFrames(r.getAs[Array[Byte]](1))
            else None
          frames.toSeq.flatMap { fs =>
            fs.indices.by(stride).map { i =>
              val f = fs(i)
              val (mr, mg, mb) = f.channelMeans
              Row(id, i, fs.length, f.width, f.height, mr, mg, mb)
            }
          }
        }
      }
    }(enc)
  }

  /** Deterministic REAL-AVI asset view of the `documents` table: each
    * document becomes a genuine RIFF AVI (encoded in-task through
    * [[VideoCodec.encodeAvi]]) whose frame count, dims, fps, and
    * per-frame solid colors are pure formulas of (doc_id, n_chars).
    * Default DIB frames are lossless, so DuckDB oracles every frame's
    * decoded stats from the formulas alone; `mjpeg = true` produces the
    * compressed-frame variant (real JPEG payloads — spec-pinned with a
    * tolerance, not oracled, because JPEG is lossy).
    */
  def aviAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64,
                             mjpeg: Boolean = false): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id", "n_chars").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0); val nChars = r.getLong(1)
          val w = (nChars % 24 + 4).toInt
          val h = (id % 16 + 4).toInt
          val nf = (id % 5 + 2).toInt
          val fps = ((id % 3 + 1) * 5).toInt
          val frames = (0 until nf).map { i =>
            val cr = ((id + 41L * i) % 256).toInt
            val cg = ((id * 7 + 13 + 17L * i) % 256).toInt
            val cb = ((nChars + 23L * i) % 256).toInt
            Array.fill(w * h)(0xff000000 | (cr << 16) | (cg << 8) | cb)
          }
          Row(id, VideoCodec.encodeAvi(w, h, fps, frames, mjpeg), "video/avi", w, h)
        }
      }
    }(enc)
  }

  /** Real video-frame decode: every `stride`-th frame of each AVI
    * payload as `(asset_id, frame_idx, n_frames, fps, width, height,
    * mean_r, mean_g, mean_b)` — container fps from the stream header,
    * frame pixels through [[VideoCodec.decode]] (raw DIB or MJPEG).
    * Non-video/corrupt payloads yield no rows (poison-safe skip).
    * Batched `mapPartitions`, shuffle-free — the [[decodeImages]]
    * scale shape.
    */
  def decodeVideoFrames(assets: DataFrame, stride: Int = 1,
                        batchSize: Int = 64): DataFrame = {
    require(stride >= 1, "stride must be positive")
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("fps", DoubleType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val id = r.getLong(0)
          val dec =
            if (VideoCodec.videoMimes.contains(r.getString(2)))
              VideoCodec.decode(r.getAs[Array[Byte]](1))
            else None
          dec.toSeq.flatMap { v =>
            v.frames.indices.by(stride).map { i =>
              val f = v.frames(i)
              val (mr, mg, mb) = f.channelMeans
              Row(id, i, v.frames.length, v.fps, f.width, f.height, mr, mg, mb)
            }
          }
        }
      }
    }(enc)
  }

  /** Deterministic A/V AVI asset view of the `documents` table: the
    * [[aviAssetsFromDocuments]] video formulas PLUS an interleaved mono
    * PCM16 square-wave audio track reusing the
    * [[wavAssetsFromDocuments]] formulas (rate, length, amplitude all
    * pure functions of (doc_id, n_chars)) — so the FULL demux, both
    * streams, oracles from the formulas alone.
    */
  def avAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id", "n_chars").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0); val nChars = r.getLong(1)
          val w = (nChars % 24 + 4).toInt
          val h = (id % 16 + 4).toInt
          val nf = (id % 5 + 2).toInt
          val fps = ((id % 3 + 1) * 5).toInt
          val frames = (0 until nf).map { i =>
            val cr = ((id + 41L * i) % 256).toInt
            val cg = ((id * 7 + 13 + 17L * i) % 256).toInt
            val cb = ((nChars + 23L * i) % 256).toInt
            Array.fill(w * h)(0xff000000 | (cr << 16) | (cg << 8) | cb)
          }
          val n = (nChars % 400 + 50).toInt
          val rateHz = (8000 + (id % 3) * 4000).toInt
          val a = ((id * 13 + 7) % 2000).toShort
          val samples = Array.tabulate(n)(i => if (i % 2 == 0) a else (-a).toShort)
          Row(id, VideoCodec.encodeAvi(w, h, fps, frames,
            audio = Some((rateHz, samples))), "video/avi", w, h)
        }
      }
    }(enc)
  }

  /** Real A/V DEMUX: one row per asset with BOTH streams' decoded
    * facts — `(asset_id, n_frames, fps, width, height, audio_rate,
    * audio_channels, n_samples, mean_abs, peak, demuxed)`. Video facts
    * from the decoded frames, audio facts from the decoded PCM
    * samples; assets without a decodable audio track get null audio
    * fields, undecodable payloads `demuxed = false` (poison-safe).
    * Batched `mapPartitions`, shuffle-free — the [[decodeImages]]
    * scale shape.
    */
  def demuxAv(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("fps", DoubleType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("audio_rate", DoubleType, nullable = true),
      StructField("audio_channels", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("mean_abs", DoubleType, nullable = true),
      StructField("peak", DoubleType, nullable = true),
      StructField("demuxed", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val dec =
            if (VideoCodec.videoMimes.contains(r.getString(2)))
              VideoCodec.decode(r.getAs[Array[Byte]](1))
            else None
          dec match {
            case Some(v) =>
              val f = v.frames.head
              v.audio match {
                case Some(a) =>
                  val (meanAbs, peak) = a.stats
                  Row(id, v.frames.length, v.fps, f.width, f.height,
                    a.sampleRate, a.channels, a.samples.length.toLong,
                    meanAbs, peak, true)
                case None =>
                  Row(id, v.frames.length, v.fps, f.width, f.height,
                    null, null, null, null, null, true)
              }
            case None =>
              Row(id, null, null, null, null, null, null, null, null, null, false)
          }
        }
      }
    }(enc)
  }

  /** Deterministic REAL-WAV asset view of the `documents` table: each
    * document becomes a genuine 16-bit PCM WAV (encoded in-task with
    * `javax.sound.sampled`) holding a ±a square wave whose frame count,
    * sample rate, and amplitude are pure formulas of (doc_id, n_chars)
    * — so the decode queries exercise the real audio codec end to end
    * while DuckDB oracles the decoded header + exact amplitude stats
    * (|±a| is constantly a, so mean_abs = peak = a).
    */
  def wavAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id", "n_chars").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0); val nChars = r.getLong(1)
          val n = (nChars % 400 + 50).toInt
          val rate = (8000 + (id % 3) * 4000).toFloat
          val a = ((id * 13 + 7) % 2000).toShort
          val samples = Array.tabulate(n)(i => if (i % 2 == 0) a else (-a).toShort)
          Row(id, AudioCodec.encodeWav(rate, 1, samples), "audio/wav", 0, 0)
        }
      }
    }(enc)
  }

  /** Deterministic STRUCTURED audio assets for acoustic dedup — the
    * [[dhashAssetsFromDocuments]] discipline one modality over: each
    * document becomes a mono PCM16 clip of 65 window-aligned blocks
    * (16 samples each, constant per block) whose block amplitude is
    * `md5Int("<doc_id>:<b>:afp") mod 20000 − 10000`, so every one of
    * the 64 louder-than-next fingerprint bits is a closed-form SQL
    * formula. Planted variants per doc:
    *   - `asset_id = doc_id·10`: the base WAV (every doc)
    *   - `+1` (even doc_id): 2× sample-and-hold upsample — genuine
    *     resample, window-aligned, fingerprint-identical
    *   - `+2` (odd doc_id): the same samples re-encoded as AIFF —
    *     container change, fingerprint-identical
    *   - `+3` (doc_id % 5 == 0): block 0 blown to amplitude 15000
    *     (louder than any base block) — a NEAR duplicate at
    *     Hamming ≤ 1 (bit 0 becomes 1; every other bit untouched)
    */
  def afpAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    graft.functions.Skew.spreadToCores(documents.select("doc_id")).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          def v(b: Int): Short =
            (graft.functions.Portable.md5IntOf(s"$id:$b:afp") % 20000 - 10000).toShort
          def samples(scale: Int, perturb: Boolean): Array[Short] =
            Array.tabulate(65 * 16 * scale) { i =>
              val b = i / (16 * scale)
              if (perturb && b == 0) 15000.toShort else v(b)
            }
          val base = Row(id * 10,
            AudioCodec.encodeWav(8000f, 1, samples(1, perturb = false)), "audio/wav", 0, 0)
          val variant =
            if (id % 2 == 0)
              Row(id * 10 + 1,
                AudioCodec.encodeWav(16000f, 1, samples(2, perturb = false)), "audio/wav", 0, 0)
            else
              Row(id * 10 + 2,
                AudioCodec.encodeAiff(8000f, 1, samples(1, perturb = false)), "audio/aiff", 0, 0)
          val near =
            if (id % 5 == 0)
              Seq(Row(id * 10 + 3,
                AudioCodec.encodeWav(8000f, 1, samples(1, perturb = true)), "audio/wav", 0, 0))
            else Seq.empty
          Seq(base, variant) ++ near
        }
      }
    }(enc)
  }

  /** Acoustic fingerprints: decode each asset and [[AudioCodec.afingerprint]]
    * it — `(asset_id, afp, afp_bits, decoded)`, the audio twin of
    * [[imageDhash]] (same 16 B/asset output; PCM never shuffles).
    */
  def audioFingerprint(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("afp", LongType, nullable = true),
      StructField("afp_bits", StringType, nullable = true),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val dec =
            if (AudioCodec.audioMimes.contains(r.getString(2)))
              AudioCodec.decode(r.getAs[Array[Byte]](1))
            else None
          dec match {
            case Some(d) =>
              val h = AudioCodec.afingerprint(d)
              Row(r.getLong(0), h, ImageCodec.dhashBits(h), true)
            case None => Row(r.getLong(0), null, null, false)
          }
        }
      }
    }(enc)
  }

  /** Acoustic near-dup pairs: the SAME 8×8-bit band funnel as
    * [[imageNearDupPairs]] (the Hamming machinery is
    * fingerprint-agnostic) over the audio fingerprints.
    */
  def audioNearDupPairs(fps: DataFrame, maxHamming: Int = 6): DataFrame =
    imageNearDupPairs(fps.withColumnRenamed("afp", "dhash"), maxHamming)

  /** Deterministic STRUCTURED multi-frame video assets for perceptual
    * dedup: each document becomes a 4-frame gray GIF whose frame f's
    * 9×8-grid cell (x,y) has value
    * `10 + md5Int("<doc_id>:<f>:<x>:<y>:vfp") mod 230` at a 36×32
    * grid-aligned resolution — so every frame's full 64-bit dHash is a
    * closed-form SQL formula (the [[dhashAssetsFromDocuments]]
    * discipline per FRAME). Variants per doc:
    *   - `asset_id = doc_id·10`: the base 4-frame 36×32 GIF
    *   - `+1` (even doc_id): the SAME frames as an 18×16 THUMBNAIL —
    *     the classic re-encode-at-half-size near-dup; grid-aligned, so
    *     per-frame dHash identical
    *   - `+3` (doc_id % 5 == 0): frames 1..3 only — a CLIP, sharing
    *     3 of 4 frame hashes with its source
    */
  def videoDhashAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    graft.functions.Skew.spreadToCores(documents.select("doc_id")).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          def frame(f: Int, scale: Int): Array[Byte] =
            Array.tabulate(9 * scale * 8 * scale) { i =>
              val cx = (i % (9 * scale)) / scale
              val cy = (i / (9 * scale)) / scale
              (10 + graft.functions.Portable.md5IntOf(s"$id:$f:$cx:$cy:vfp") % 230).toByte
            }
          def gif(gridScale: Int, fs: Seq[Int]) =
            ImageCodec.encodeGifGrayFrames(9 * gridScale, 8 * gridScale,
              fs.map(f => frame(f, gridScale)))
          val base = Row(id * 10, gif(4, 0 until 4), "image/gif", 36, 32)
          val variant =
            if (id % 2 == 0) Seq(Row(id * 10 + 1, gif(2, 0 until 4), "image/gif", 18, 16))
            else Seq.empty
          val clip =
            if (id % 5 == 0) Seq(Row(id * 10 + 3, gif(4, 1 until 4), "image/gif", 36, 32))
            else Seq.empty
          Seq(base) ++ variant ++ clip
        }
      }
    }(enc)
  }

  /** The MJPEG-in-AVI twin of [[videoDhashAssetsFromDocuments]]: the
    * SAME per-frame cell formulas (`10 + md5Int("<doc_id>:<f>:<x>:<y>:
    * vfp") mod 230`), carried by a REAL video container with a
    * JDK-decodable frame codec — each asset is a RIFF AVI whose frames
    * are complete JPEGs ([[VideoCodec.encodeAvi]] `mjpeg = true`). The
    * cells are rendered at 8×8 pixels, aligned to the JPEG block grid,
    * and encoded at quality 1.0: block-constant gray content
    * round-trips JPEG bit-exactly (all-ones quant table, DC-only
    * blocks — see [[VideoCodec.encodeJpeg]]), so every frame's dHash
    * equals the GIF twin's closed-form formula and the SAME oracle SQL
    * pins a real-container path end to end. Variants per doc mirror
    * the twin: `+1` (even) a 2× re-render sharing every frame hash,
    * `+3` (%5) the frames-1..3 clip.
    */
  def mjpegDhashAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    graft.functions.Skew.spreadToCores(documents.select("doc_id")).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          def frame(f: Int, cell: Int): Array[Int] =
            Array.tabulate(9 * cell * 8 * cell) { i =>
              val cx = (i % (9 * cell)) / cell
              val cy = (i / (9 * cell)) / cell
              val g = (10 + graft.functions.Portable.md5IntOf(s"$id:$f:$cx:$cy:vfp") % 230).toInt
              0xff000000 | (g << 16) | (g << 8) | g
            }
          def avi(cell: Int, fs: Seq[Int]) =
            VideoCodec.encodeAvi(9 * cell, 8 * cell, 10,
              fs.map(frame(_, cell)), mjpeg = true, jpegQuality = 1.0f)
          val base = Row(id * 10, avi(8, 0 until 4), "video/avi", 72, 64)
          val variant =
            if (id % 2 == 0) Seq(Row(id * 10 + 1, avi(16, 0 until 4), "video/avi", 144, 128))
            else Seq.empty
          val clip =
            if (id % 5 == 0) Seq(Row(id * 10 + 3, avi(8, 1 until 4), "video/avi", 72, 64))
            else Seq.empty
          Seq(base) ++ variant ++ clip
        }
      }
    }(enc)
  }

  /** The MJPEG-in-MP4 twin of [[mjpegDhashAssetsFromDocuments]] (r17):
    * the same closed-form frame formulas through a REAL ISO-BMFF
    * container — quality-1.0 JPEG samples behind genuine
    * stsd('jpeg')/stts/stsc/stsz/stco tables, so the GIF twin's oracle
    * pins [[Mp4Codec.extractSamples]]'s whole sample-table walk end to
    * end (the second real video container after RIFF/AVI).
    */
  def mp4DhashAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    graft.functions.Skew.spreadToCores(documents.select("doc_id")).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          def frame(f: Int, cell: Int): Array[Int] =
            Array.tabulate(9 * cell * 8 * cell) { i =>
              val cx = (i % (9 * cell)) / cell
              val cy = (i / (9 * cell)) / cell
              val g = (10 + graft.functions.Portable.md5IntOf(s"$id:$f:$cx:$cy:vfp") % 230).toInt
              0xff000000 | (g << 16) | (g << 8) | g
            }
          def mp4(cell: Int, fs: Seq[Int]) = {
            val (w, h) = (9 * cell, 8 * cell)
            Mp4Codec.encodeMp4(10, fs.length.toLong,
              Seq(Mp4Codec.TrackSpec("vide", "jpeg", width = w, height = h,
                samples = fs.map(f =>
                  VideoCodec.encodeJpeg(w, h, frame(f, cell), 1.0f)))))
          }
          val base = Row(id * 10, mp4(8, 0 until 4), "video/mp4", 72, 64)
          val variant =
            if (id % 2 == 0) Seq(Row(id * 10 + 1, mp4(16, 0 until 4), "video/mp4", 144, 128))
            else Seq.empty
          val clip =
            if (id % 5 == 0) Seq(Row(id * 10 + 3, mp4(8, 1 until 4), "video/mp4", 72, 64))
            else Seq.empty
          Seq(base) ++ variant ++ clip
        }
      }
    }(enc)
  }

  /** Per-frame perceptual fingerprints of multi-frame assets:
    * `(asset_id, frame_ix, dhash, dhash_bits)` — one [[ImageCodec.dhash]]
    * per decoded frame, shuffle-free, 16 B/frame out. Undecodable
    * assets yield no rows (poison-safe skip — the frame relation has
    * no meaningful null row). Containers route by MAGIC BYTES: RIFF
    * AVI payloads (raw-DIB or MJPEG frames) demux through
    * [[VideoCodec.decode]], ISO-BMFF (`ftyp`) through
    * [[Mp4Codec.decodeVideoFrames]]'s sample-table walk (r17);
    * everything else goes through the multi-image reader (animated
    * GIF etc.) — so one frame-hash pass serves a mixed-container
    * corpus.
    */
  def videoFrameDhash(assets: DataFrame, batchSize: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_ix", IntegerType, nullable = false),
      StructField("dhash", LongType, nullable = false),
      StructField("dhash_bits", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    def isAvi(b: Array[Byte]): Boolean =
      b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '
    def isMp4(b: Array[Byte]): Boolean =
      b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'
    assets.select("asset_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val frames: Seq[ImageCodec.Decoded] =
            if (isAvi(bytes)) VideoCodec.decode(bytes).map(_.frames).getOrElse(Seq.empty)
            else if (isMp4(bytes))
              Mp4Codec.decodeVideoFrames(bytes).getOrElse(Seq.empty)
            else ImageCodec.decodeFrames(bytes).getOrElse(Seq.empty)
          frames.zipWithIndex.map { case (d, ix) =>
            val h = ImageCodec.dhash(d)
            Row(r.getLong(0), ix, h, ImageCodec.dhashBits(h))
          }
        }
      }
    }(enc)
  }

  /** Video near-dup pairs by SHARED FRAME CONTENT: assets pair when at
    * least `minShared` distinct frame fingerprints coincide — the
    * published shot/keyframe-overlap contract (a rescaled re-encode
    * shares everything; a clip shares its surviving frames; distinct
    * content shares nothing). One equi-join on the 8-byte hash — pair
    * work is Σ_hash collisions², never assets²; frame pixels never
    * shuffle.
    *
    * STOP-FRAME REMOVAL (`frameDfCap`): the join key is the full
    * 64-bit frame hash, so random collisions are negligible — but one
    * ubiquitous real-world frame (black frame, studio card, test
    * pattern) shared by M videos is one M²-hot key. Frame hashes held
    * by more than `frameDfCap` assets are dropped before the
    * self-join — the df-bounded discipline the lexical tier applies
    * to stopwords, and the same signal logic: a frame that appears in
    * thousands of videos identifies none of them. RECALL CAVEAT: a
    * dropped hash no longer counts toward `n_shared`, so pairs whose
    * overlap is mostly stop-frames fall below the threshold — by
    * design (such pairs are not near-dups of each other).
    */
  def videoNearDupPairs(frameHashes: DataFrame, minShared: Int = 2,
                        frameDfCap: Int = 1024): DataFrame = {
    val h = frameHashes.select("asset_id", "dhash").distinct()
      .localCheckpoint(true) // block-level eager cut (r18): no FS round-trip
    val ok = h.groupBy("dhash").agg(count(lit(1)).as("df"))
      .filter(col("df") <= frameDfCap).select("dhash")
    val kept = h.join(ok, Seq("dhash"), "left_semi")
    val other = kept.select(col("asset_id").as("id2"), col("dhash"))
    kept.join(other, Seq("dhash"))
      .filter(col("asset_id") < col("id2"))
      .groupBy(col("asset_id").as("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id1"), col("id2"), col("n_shared"))
  }

  /** Real audio decode: `(asset_id, sample_rate, channels, n_frames,
    * mean_abs, peak, decoded)` — header and stats come from the decoded
    * PCM samples. Non-audio/corrupt/non-PCM16 payloads yield
    * `decoded = false` with null fields (poison-safe).
    */
  def decodeAudio(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("sample_rate", DoubleType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("mean_abs", DoubleType, nullable = true),
      StructField("peak", DoubleType, nullable = true),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val dec =
            if (AudioCodec.audioMimes.contains(r.getString(2)))
              AudioCodec.decode(r.getAs[Array[Byte]](1))
            else None
          dec match {
            case Some(d) =>
              val (meanAbs, peak) = d.stats
              Row(id, d.sampleRate, d.channels, d.nFrames, meanAbs, peak, true)
            case None => Row(id, null, null, null, null, null, false)
          }
        }
      }
    }(enc)
  }

  /** Real image decode: `(asset_id, width, height, channels, mean_r,
    * mean_g, mean_b, decoded)`. Dims and stats come from the decoded
    * pixel raster, not the metadata columns. Non-image or corrupt
    * payloads yield `decoded = false` with null stats (poison-safe: one
    * bad asset never kills the batch).
    */
  def decodeImages(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("mean_r", DoubleType, nullable = true),
      StructField("mean_g", DoubleType, nullable = true),
      StructField("mean_b", DoubleType, nullable = true),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val dec =
            if (ImageCodec.imageMimes.contains(r.getString(2)))
              try ImageCodec.decode(r.getAs[Array[Byte]](1)) catch { case _: Exception => None }
            else None
          dec match {
            case Some(d) =>
              val (mr, mg, mb) = d.channelMeans
              Row(id, d.width, d.height, d.channels, mr, mg, mb, true)
            case None => Row(id, null, null, null, null, null, null, false)
          }
        }
      }
    }(enc)
  }

  /** Real pixel resize: decode, aspect-fit into `maxSide` (nearest
    * neighbor, never upscaling), re-encode as PNG. Output
    * `(asset_id, out_width, out_height, media)` — undecodable assets
    * are dropped (they carry no pixels to resize).
    */
  def resizeImages(assets: DataFrame, maxSide: Int, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("out_width", IntegerType, nullable = false),
      StructField("out_height", IntegerType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val dec =
            if (ImageCodec.imageMimes.contains(r.getString(2)))
              try ImageCodec.decode(r.getAs[Array[Byte]](1)) catch { case _: Exception => None }
            else None
          dec.map { d =>
            val small = ImageCodec.fitWithin(d, maxSide)
            Row(r.getLong(0), small.width, small.height,
              ImageCodec.encodePng(small.width, small.height, small.argb))
          }
        }
      }
    }(enc)
  }

  /** Batched feature extraction: `(asset_id, features: array<float>)`.
    * Processes each partition in micro-batches of `batchSize` rows —
    * the real-codec shape (one codec/model session per batch). Image
    * mimes produce real pixel-histogram descriptors via [[ImageCodec]],
    * audio mimes real amplitude histograms via [[AudioCodec]], AVI
    * video mimes frame-averaged pixel histograms via [[VideoCodec]];
    * codec-less containers (and undecodable payloads) fall back to the
    * deterministic [[StubCodec]].
    */
  def extractFeatures(assets: DataFrame, dim: Int = 16, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media", "mime").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // a real adapter would open one codec session for `batch` here
        batch.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val mime = r.getString(2)
          val feats =
            if (ImageCodec.imageMimes.contains(mime))
              (try ImageCodec.decode(bytes) catch { case _: Exception => None })
                .map(ImageCodec.features(_, dim))
                .getOrElse(StubCodec.featuresOf(bytes, dim))
            else if (AudioCodec.audioMimes.contains(mime))
              AudioCodec.decode(bytes)
                .map(AudioCodec.features(_, dim))
                .getOrElse(StubCodec.featuresOf(bytes, dim))
            else if (VideoCodec.videoMimes.contains(mime))
              VideoCodec.decode(bytes)
                .map(VideoCodec.features(_, dim))
                .getOrElse(StubCodec.featuresOf(bytes, dim))
            else StubCodec.featuresOf(bytes, dim)
          Row(r.getLong(0), feats)
        }
      }
    }(enc)
  }

  /** NON-DEGENERATE semantic-dedup fixture (r17): one 16×8 two-color
    * PNG per doc whose pixel histogram is near-but-NOT-equal to its
    * group siblings'. Four natural groups (g/b channels one-hot by
    * `doc_id % 2` and `(doc_id/2) % 2`); within a group the r channel
    * SPREADS — `(doc_id % 8) · 2` of the 128 pixels take the far r bin
    * — so intra-group cosine ranges over [0.9966, 1] (all above a 0.99
    * threshold, transitively one cluster) while inter-group cosine
    * stays ≤ ~0.7. The point: with c = 8 cells over 4 groups, k-means
    * MUST split groups across cells, so single-probe blocking loses
    * the cross-split pairs and disconnects the cluster — multi-probe
    * (probes ≥ 2 posts each vector to its split-sibling cell too) is
    * what restores the brute result. Cluster structure stays
    * closed-form: cluster = `doc_id % 4`, keep = the min member.
    */
  def semAssetsFromDocuments(documents: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    documents.select("doc_id").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val (w, h) = (16, 8)
          val k = ((id % 8) * 2).toInt // pixels in the far r bin
          val cg = if (id % 2 == 0) 32 else 224
          val cb = if ((id / 2) % 2 == 0) 32 else 224
          val argb = Array.tabulate(w * h)(i =>
            0xff000000 | ((if (i < k) 224 else 32) << 16) | (cg << 8) | cb)
          Row(id, ImageCodec.encodePng(w, h, argb), "image/png", w, h)
        }
      }
    }(enc)
  }

  /** SEMANTIC (embedding-space) image dedup — the image tier's
    * `q_semdedup` twin: real pixel-histogram descriptors
    * ([[ImageCodec.features]] over the decoded raster) → cosine
    * near-dup pairs → transitive clusters keeping the min asset id.
    * Output `(asset_id, cluster_id, keep)` for every decodable asset.
    *
    * Composition is the text path's, organ for organ: the pair stage
    * is [[Dedup.embeddingNearDups]] (the correctness baseline;
    * [[Dedup.embeddingNearDupsBlocked]] is the drop-in 100-TB path —
    * same output contract, IVF-cell-blocked pair work) and the
    * labeling is [[Dedup.nearDupClusters]] (pointer-jumping
    * components). Pixels are paid once in the feature pass;
    * everything after moves `dim` floats per asset.
    */
  def imageSemanticDedup(assets: DataFrame, dim: Int = 9,
                         threshold: Double = 0.9,
                         blocked: Boolean = false,
                         c: Int = 8, probes: Int = 4): DataFrame = {
    val feats = extractFeatures(assets, dim)
      .select(col("asset_id").as("vec_id"), col("features").as("embedding"))
      .localCheckpoint(true) // block-level eager cut (r18): no FS round-trip
    // brute pair stage = the correctness baseline; `blocked` is the
    // 100-TB path (IVF-cell blocking, pair work Σ_cell (probes·N/C)²
    // instead of N²) — the same twin contract as the text tier's
    // q_embedding_neardups / _blocked. Near-identical descriptors land
    // in identical cells, so at the declared parameters the blocked
    // form reproduces the brute result (oracle-checked).
    // UN-deduped candidates on the blocked path (r18): the pairs feed
    // ONLY the cluster labeling, which per-partition-contracts its
    // edges — so the dropDuplicates exchange over the multi-cell pair
    // volume (quadratic in duplicate-group size) is pure overhead here
    val pairs =
      (if (blocked) Dedup.embeddingNearDupCandidates(feats, threshold, c, probes)
       else Dedup.embeddingNearDups(feats, threshold))
        .select(col("id1"), col("id2"))
    Dedup.nearDupClusters(
        feats.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("asset_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))
  }

  /** Frame sampling: treat the payload as `frameBytes`-sized frames and
    * keep every `stride`-th, emitting `(asset_id, frame_idx, frame)`.
    * Pure codegen'd column ops — binary `substring` over a generated
    * index sequence, then posexplode.
    */
  def sampleFrames(assets: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = floor(length(col("media")) / frameBytes).cast("int")
    val idxs = when(nFrames > 0,
      sequence(lit(0), nFrames - 1, lit(stride))).otherwise(array().cast("array<int>"))
    assets
      .select(col("asset_id"),
        posexplode(transform(idxs,
          i => substring(col("media"), i * frameBytes + 1, lit(frameBytes))))
          .as(Seq("pos", "frame")),
        element_at(idxs, col("pos") + 1).as("frame_idx"))
      .select("asset_id", "frame_idx", "frame")
  }

  /** Resize metadata to fit a bounding box preserving aspect ratio —
    * the metadata half of a resize (the pixel half is [[resizeImages]]).
    */
  def resizeMeta(assets: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(
      lit(maxSide.toDouble) / col("width"),
      lit(maxSide.toDouble) / col("height"),
      lit(1.0))
    assets.select(
      col("asset_id"), col("mime"), col("width"), col("height"),
      floor(col("width") * scale).cast("int").as("out_width"),
      floor(col("height") * scale).cast("int").as("out_height"))
  }
}
