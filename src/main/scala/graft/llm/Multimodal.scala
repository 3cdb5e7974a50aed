package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video ride through the pipeline
  * as opaque `binary` columns plus typed metadata structs.
  *
  * The Spark-side shape is binary columns, metadata extraction as codegen'd
  * expressions, and every per-row media kernel (decode, resize, sketch)
  * run by one Catalyst expression, [[MediaCodec]]. Image decode is
  * REAL: `decodeImages` parses PNG/JPEG/GIF/BMP pixels with the JDK's
  * built-in `javax.imageio` (no external codec dependency); undecodable
  * bytes yield a null struct. Audio/video feature extraction
  * (`sampleFrames`) remains a byte-slice plan shape — ffmpeg-class demuxers
  * are out of scope for a JVM-only library.
  */
object Multimodal extends org.apache.spark.internal.Logging {

  /** Metadata schema carried alongside every media binary. */
  val MediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("byte_len", LongType),
    StructField("checksum", LongType)))

  val DecodedImageType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("mean_intensity", DoubleType)))

  /** Container sniffing from magic bytes — pure expression, no decode.
    * (JPEG FF D8, PNG 89 50 4E 47, GIF 47 49 46, RIFF=WAV/AVI, 'ftyp'=MP4.) */
  def mediaType(bin: Column): Column = {
    val head = upper(hex(substring(bin, 1, 8)))
    when(head.startsWith("FFD8"), "image/jpeg")
      .when(head.startsWith("89504E47"), "image/png")
      .when(head.startsWith("474946"), "image/gif")
      .when(head.startsWith("52494646"), "audio/wav")
      .when(substring(bin, 5, 4).cast(StringType) === "ftyp", "video/mp4")
      .otherwise("application/octet-stream")
  }

  /** Metadata struct (type, length, checksum) — shuffle-free annotation. */
  def mediaMeta(bin: Column): Column =
    struct(
      mediaType(bin).as("media_type"),
      length(bin).cast(LongType).as("byte_len"),
      xxhash64(bin).as("checksum"))

  def withMediaMeta(df: DataFrame, binCol: String, metaCol: String = "media_meta"): DataFrame =
    df.withColumn(metaCol, mediaMeta(col(binCol)))

  /** Deterministic feature embedding of a binary column: `dim` floats
    * derived from per-dimension hashes. A real model-based extractor slots
    * into the same (binary -> array<float>) signature. */
  def featureEmbedding(bin: Column, dim: Int = 64): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(bin, i), lit(2000001L)).cast(DoubleType) / 1000000.0 - 1.0)
        .cast(FloatType))

  /** Frame sampling for "video" binaries: k evenly-spaced fixed-width byte
    * slices as an array<binary> — the plan shape of keyframe extraction
    * (slice offsets are where a demuxer would seek). */
  def sampleFrames(bin: Column, frames: Int = 4, frameBytes: Int = 256): Column = {
    val len = length(bin)
    transform(sequence(lit(0), lit(frames - 1)), k => {
      val offset = (len * k / frames) + 1
      substring(bin, offset, lit(frameBytes)).cast(BinaryType)
    })
  }

  /** Image decode: the input plus a `decoded` struct ([[DecodedImageType]]).
    * Decode is real pixel parsing via the JDK's `javax.imageio`
    * (PNG/JPEG/GIF/BMP/WBMP); bytes that no registered reader accepts — or
    * that throw mid-parse — decode to a null struct rather than failing
    * the task. */
  def decodeImages(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("decoded", mediaCodec(col(binCol), ImageDecode))

  /** ImageIO's default stream cache spills every read to a temp FILE; the
    * payloads are already in memory, so force the heap cache once per JVM. */
  @transient private lazy val imageIoNoDiskCache: Boolean = {
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  /** Decode one image with `javax.imageio`. Returns width/height/band-count
    * and the mean sample over all bands normalized to [0,1] (8-bit scale),
    * or null when the bytes are not a decodable image.
    *
    * Palette-indexed images (GIF, indexed PNG) are resolved through the
    * palette via `getRGB`: their raster samples are palette INDICES, so a
    * raw-raster mean would be meaningless and the band count would depend
    * on which reader happened to load the image. Indexed images therefore
    * always report 3 channels and a true color-intensity mean. */
  private[graft] def decodeOne(bytes: Array[Byte]): Row = {
    if (bytes == null || bytes.isEmpty) null
    else {
      imageIoNoDiskCache
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) null
        else {
          val w = img.getWidth
          val h = img.getHeight
          img.getColorModel match {
            case icm: java.awt.image.IndexColorModel =>
              // Palette LUT once (<= 256 entries: r+g+b sum per index),
              // then one raster-sample lookup per pixel — per-pixel
              // getRGB would re-derive the colormap entry 16M times on a
              // 4k image.
              val lutSize = icm.getMapSize
              val rgbs = new Array[Int](lutSize)
              icm.getRGBs(rgbs)
              val lut = rgbs.map(rgb =>
                (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)).toLong)
              val raster = img.getRaster
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val idx = raster.getSample(x, y, 0)
                  if (idx >= 0 && idx < lutSize) sum += lut(idx)
                  x += 1
                }
                y += 1
              }
              val count = w.toLong * h * 3
              val mean = if (count == 0) 0.0 else sum.toDouble / count / 255.0
              Row(w, h, 3, mean)
            case _ =>
              val raster = img.getRaster
              val bands = raster.getNumBands
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  var b = 0
                  while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
                  x += 1
                }
                y += 1
              }
              val count = w.toLong * h * bands
              val mean = if (count == 0) 0.0 else sum.toDouble / count / 255.0
              Row(w, h, bands, mean)
          }
        }
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  /** Decoded-audio metadata: the WAV/PCM header fields plus two derived
    * values a pipeline filters on (clip length, loudness). */
  val DecodedAudioType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_sec", DoubleType),
    StructField("mean_amplitude", DoubleType)))

  /** WAV/PCM decode into `decoded_audio` — the audio sibling of
    * `decodeImages`. Parsing is the JDK's own `javax.sound.sampled`
    * (RIFF/WAVE header + PCM frames, no external codec); bytes that aren't
    * a parseable WAV — or that throw mid-read — decode to a null struct
    * rather than failing the task.
    * Compressed containers (MP3/OGG/AAC) have no JDK reader and correctly
    * yield null; they would slot in behind the same (binary -> struct)
    * signature. */
  def decodeAudio(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("decoded_audio", mediaCodec(col(binCol), AudioDecode))

  /** Decode one WAV clip: header fields via `AudioSystem`'s format probe,
    * duration from the frame count, and — for 16-bit PCM — the mean
    * absolute sample amplitude normalized to [0,1] by one pass over the
    * frames. Returns null when no JDK reader accepts the bytes. */
  private[graft] def decodeAudioOne(bytes: Array[Byte]): Row = {
    if (bytes == null || bytes.isEmpty) null
    else {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val nFrames = in.getFrameLength
          val sr = fmt.getSampleRate.toInt
          val ch = fmt.getChannels
          val bits = fmt.getSampleSizeInBits
          if (sr <= 0 || ch <= 0 || nFrames < 0) null
          else {
            val dur = nFrames.toDouble / sr
            // Non-16-bit PCM is probed but not sample-scanned: null keeps
            // "not computed" distinguishable from genuine silence (0.0).
            val mean: java.lang.Double =
              if (bits != 16) null
              else if (nFrames == 0L) 0.0
              else {
                val data = in.readAllBytes()
                val bb = java.nio.ByteBuffer.wrap(data).order(
                  if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
                  else java.nio.ByteOrder.LITTLE_ENDIAN)
                var sum = 0L
                var n = 0L
                while (bb.remaining() >= 2) {
                  sum += math.abs(bb.getShort.toLong); n += 1
                }
                if (n == 0) 0.0 else sum.toDouble / n / 32768.0
              }
            Row(sr, ch, bits, nFrames, dur, mean)
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  /** Encode a constant-amplitude 16-bit PCM WAV clip — the synthetic
    * generator for audio-typed columns. Every sample holds `amplitude`, so
    * the decoded statistics are exactly predictable (mean_amplitude =
    * |amplitude|/32768, duration = nFrames/sampleRate) and generated
    * corpora stay oracle-checkable, mirroring `encodeSolidImage`. */
  def encodePcmWav(sampleRate: Int, channels: Int, nFrames: Int, amplitude: Short): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nFrames >= 0,
      s"bad WAV spec: rate=$sampleRate ch=$channels frames=$nFrames")
    // Sizes in Long first: nFrames*channels*2 in Int arithmetic could wrap
    // past the require and emit a corrupt RIFF header / negative alloc.
    val dataSizeL = nFrames.toLong * channels * 2L
    require(dataSizeL <= Int.MaxValue - 44L,
      s"WAV spec overflows a single RIFF chunk: $dataSizeL data bytes " +
        s"(rate=$sampleRate ch=$channels frames=$nFrames); cap is ${Int.MaxValue - 44}")
    val dataSize = dataSizeL.toInt
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    val total = nFrames * channels
    while (i < total) { bb.putShort(amplitude); i += 1 }
    bb.array()
  }

  /** Encode a solid-color RGB image of the given dimensions — the synthetic
    * generator for image-typed columns (PNG/BMP/GIF via `javax.imageio`).
    * Solid fills keep the pixel statistics exactly predictable (mean
    * intensity = gray/255) so generated corpora stay oracle-checkable. */
  def encodeSolidImage(width: Int, height: Int, gray: Int, format: String = "png"): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = gray & 0xFF
    val rgb = (g << 16) | (g << 8) | g
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, format, out))
      throw new IllegalArgumentException(s"no ImageIO writer for format '$format'")
    out.toByteArray
  }

  /** Resize planning: target dims preserving aspect ratio, as a column over
    * the decoded struct (the planning half of a resize; [[resizeImages]]
    * does the pixel resample). */
  def resizePlan(decoded: Column, maxSide: Int = 512): Column = {
    val w = decoded("width").cast(DoubleType)
    val h = decoded("height").cast(DoubleType)
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h, lit(1.0)))
    struct(
      round(w * scale).cast(IntegerType).as("width"),
      round(h * scale).cast(IntegerType).as("height"))
  }

  // ------------------------------------------------------- image resize

  /** Image RESIZE — the execution half of [[resizePlan]]. Each image is
    * decoded with `javax.imageio`, resampled to `targetW x targetH`
    * through a `Graphics2D` bilinear draw, and re-encoded (`format`, default PNG — lossless, so solid-color inputs
    * have closed-form output pixels and stay oracle-checkable). Bytes no
    * reader accepts — or that throw mid-resample — yield a null `resized`
    * column rather than failing the task. */
  def resizeImages(df: DataFrame, binCol: String, targetW: Int, targetH: Int,
      format: String = "png", resizedCol: String = "resized"): DataFrame =
    df.withColumn(resizedCol,
      mediaCodec(col(binCol), ImageResize(targetW, targetH, format)))

  private[graft] def resizeOne(bytes: Array[Byte], targetW: Int, targetH: Int,
      format: String): Array[Byte] = {
    if (bytes == null || bytes.isEmpty) null
    else {
      imageIoNoDiskCache
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) null
        else {
          val dst = new java.awt.image.BufferedImage(
            targetW, targetH, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
          } finally g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          if (!javax.imageio.ImageIO.write(dst, format, out)) null
          else out.toByteArray
        }
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  // ------------------------------------------------------ perceptual hash

  /** Perceptual hash (64-bit DCT pHash) — the image
    * near-dup sketch: decode → 32×32 grayscale bilinear resample → 2D
    * DCT-II → 64 low-frequency AC coefficients (the top-left 8×8 block
    * minus DC, plus its (8,0) neighbor) → bit j = coefficient > median
    * (the DC term is pure brightness and is excluded entirely — it sits
    * far above the AC median, so emitting it would burn a bit on a
    * constant; all 64 emitted bits discriminate). Two images that are
    * re-encodes / resizes / mild quality-degrades of each other land
    * within a few bits of Hamming distance; unrelated images differ in
    * ~32 — the standard image-dedup step of multimodal corpus pipelines
    * (composes with [[Dedup.nearDupHamming64]]'s pigeonhole blocking for
    * the corpus-wide pair join). Undecodable or degenerate bytes hash to
    * null. */
  def pHashImages(df: DataFrame, binCol: String, outCol: String = "phash"): DataFrame =
    df.withColumn(outCol, mediaSketch64(col(binCol), "phash"))

  private val PHashSide = 32
  /** cosTable(u)(x) = cos((2x+1)·u·π/64) — the DCT-II basis, StrictMath
    * so the hash is bit-stable across JVMs. */
  @transient private lazy val pHashCos: Array[Array[Double]] = {
    val t = Array.ofDim[Double](PHashSide, PHashSide)
    var u = 0
    while (u < PHashSide) {
      var x = 0
      while (x < PHashSide) {
        t(u)(x) = StrictMath.cos((2 * x + 1) * u * StrictMath.PI / (2.0 * PHashSide))
        x += 1
      }
      u += 1
    }
    t
  }

  /** 64-bit DCT pHash of one image, or null when the bytes don't decode. */
  private[graft] def pHashOne(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.isEmpty) null
    else {
      imageIoNoDiskCache
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null || img.getWidth == 0 || img.getHeight == 0) null
        else {
          // Grayscale 32×32 via one bilinear draw (the resize kernel path).
          val gray = new java.awt.image.BufferedImage(
            PHashSide, PHashSide, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = gray.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, PHashSide, PHashSide, null)
          } finally g.dispose()
          val raster = gray.getRaster
          val px = Array.ofDim[Double](PHashSide, PHashSide)
          var y = 0
          while (y < PHashSide) {
            var x = 0
            while (x < PHashSide) { px(y)(x) = raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          // Separable 2D DCT-II, low-frequency coefficients only (9·32·32
          // + 65·32 multiplies — no full-transform waste). Nine row
          // transforms: the 8×8 block plus the (u=8, v=0) horizontal
          // neighbor, so the hash can carry 64 genuine AC bits with the
          // DC term excluded ENTIRELY (DC is pure brightness and sits far
          // above the AC median — emitting it as a bit would waste one of
          // the 64 on a constant; r14, was 63 discriminating bits + a
          // constant. Persisted pHash sketches from before r14 are NOT
          // comparable to post-r14 hashes — rehash, don't mix).
          val cos = pHashCos
          val rows9 = Array.ofDim[Double](9, PHashSide) // rows9(u)(y) = Σ_x px(y)(x)·cos(u,x)
          var u = 0
          while (u < 9) {
            y = 0
            while (y < PHashSide) {
              var s = 0.0
              var x = 0
              while (x < PHashSide) { s += px(y)(x) * cos(u)(x); x += 1 }
              rows9(u)(y) = s
              y += 1
            }
            u += 1
          }
          // coef(0) = DC; coef(v·8+u) for the 8×8 block; coef(64) = (8, 0).
          val coef = new Array[Double](65)
          var v = 0
          while (v < 8) {
            u = 0
            while (u < 8) {
              var s = 0.0
              y = 0
              while (y < PHashSide) { s += rows9(u)(y) * cos(v)(y); y += 1 }
              coef(v * 8 + u) = s
              u += 1
            }
            v += 1
          }
          var s80 = 0.0
          y = 0
          while (y < PHashSide) { s80 += rows9(8)(y) * cos(0)(y); y += 1 }
          coef(64) = s80
          // Median of the 64 AC coefficients, then bit j = AC j+1 > median.
          val ac = java.util.Arrays.copyOfRange(coef, 1, 65)
          java.util.Arrays.sort(ac)
          val median = ac(31) // lower middle of 64
          var bits = 0L
          var j = 0
          while (j < 64) {
            if (coef(j + 1) > median) bits |= (1L << j)
            j += 1
          }
          bits
        }
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  /** Synthetic textured image for pHash gates: an 8×8 grid of gray blocks
    * whose levels derive from splitmix64(family, bx, by) — visually
    * distinct across families, structurally stable under resize /
    * re-encode (the two invariances pHash certifies). Deterministic, so
    * planted-duplicate corpora stay oracle-checkable. */
  def encodeBlockImage(family: Long, side: Int = 64, format: String = "png"): Array[Byte] = {
    require(side >= 8, s"side must be >= 8, got $side")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val img = new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val block = side / 8
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val h = mix(mix(family * 8191L + (x / block)) * 127L + (y / block))
        val gray = (h & 0xFFL).toInt
        img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, format, out))
      throw new IllegalArgumentException(s"no ImageIO writer for format '$format'")
    out.toByteArray
  }

  // ------------------------------------------------------- audio hash

  /** Audio fingerprint — the audio sibling of
    * [[pHashImages]]: 16-bit PCM WAV → 64 equal time buckets → mean
    * absolute amplitude per bucket → bit j = bucket j > median. The
    * energy PROFILE is the signature, so the hash is invariant to
    * amplitude scaling (the median scales with the signal) and to
    * re-encoding of the same samples, while clips with different
    * temporal structure differ in ~32 bits — composes with
    * [[Dedup.nearDupHamming64]] exactly like the image hash.
    * Non-PCM-16 or undecodable bytes hash to null. */
  def audioHashes(df: DataFrame, binCol: String, outCol: String = "ahash"): DataFrame =
    df.withColumn(outCol, mediaSketch64(col(binCol), "audio_energy"))

  /** 64-bit energy-profile hash of one clip, or null when the bytes are
    * not decodable 16-bit PCM with at least 64 samples. */
  private[graft] def audioHashOne(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.isEmpty) null
    else {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16 || fmt.getChannels <= 0) null
          else {
            val data = in.readAllBytes()
            val bb = java.nio.ByteBuffer.wrap(data).order(
              if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
              else java.nio.ByteOrder.LITTLE_ENDIAN)
            val n = data.length / 2
            if (n < 64) null
            else {
              val sums = new Array[Long](64)
              val counts = new Array[Long](64)
              var i = 0
              while (i < n) {
                val b = (i.toLong * 64L / n).toInt
                sums(b) += math.abs(bb.getShort(i * 2).toLong)
                counts(b) += 1
                i += 1
              }
              val means = new Array[Double](64)
              i = 0
              while (i < 64) {
                means(i) = if (counts(i) == 0) 0.0 else sums(i).toDouble / counts(i)
                i += 1
              }
              val sorted = means.clone()
              java.util.Arrays.sort(sorted)
              val median = sorted(31)
              var bits = 0L
              i = 0
              while (i < 64) {
                if (means(i) > median) bits |= (1L << i)
                i += 1
              }
              bits
            }
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  /** Synthetic structured WAV for audio-hash gates: 64 sections of
    * constant EVEN amplitude derived from splitmix64(family, section) —
    * distinct energy profiles across families, exactly halvable for the
    * amplitude-scale-invariance plant (even >> 1 is exact, so the scaled
    * clip's bucket means are exactly half and the hash is bit-identical).
    * Deterministic, oracle-checkable. */
  def encodePatternWav(family: Long, scaleShift: Int = 0, sections: Int = 64,
      framesPerSection: Int = 100, sampleRate: Int = 8000): Array[Byte] = {
    require(sections >= 1 && framesPerSection >= 1 && scaleShift >= 0)
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val nFrames = sections * framesPerSection
    val dataSize = nFrames * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var s = 0
    while (s < sections) {
      val amp = ((mix(family * 8191L + s) & 0x3FFEL) >> scaleShift).toShort
      var f = 0
      while (f < framesPerSection) { bb.putShort(amp); f += 1 }
      s += 1
    }
    bb.array()
  }

  // ------------------------------------------------- audio spectral hash

  private val SpecW = 1024
  private val SpecHop = 512
  /** Hann window, StrictMath so the hash is bit-stable across JVMs. */
  @transient private lazy val specHann: Array[Double] = {
    val w = new Array[Double](SpecW)
    var i = 0
    while (i < SpecW) {
      w(i) = 0.5 - 0.5 * StrictMath.cos(2.0 * StrictMath.PI * i / SpecW)
      i += 1
    }
    w
  }

  /** Iterative radix-2 Cooley-Tukey, in place. StrictMath twiddles. */
  private def fftInPlace(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    var j = 0
    var i = 1
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * StrictMath.PI / len
      val wr = StrictMath.cos(ang)
      val wi = StrictMath.sin(ang)
      var s = 0
      while (s < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(s + k); val ui = im(s + k)
          val xr = re(s + k + len / 2); val xi = im(s + k + len / 2)
          val vr = xr * cr - xi * ci
          val vi = xr * ci + xi * cr
          re(s + k) = ur + vr; im(s + k) = ui + vi
          re(s + k + len / 2) = ur - vr; im(s + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        s += len
      }
      len <<= 1
    }
  }

  /** TIME-SHIFT-ROBUST audio fingerprint — the
    * spectral sibling of [[audioHashes]]: the energy-profile hash keys on
    * WHEN energy occurs, so a few hundred frames of leading silence or a
    * padded tail (the two most common real audio near-dup transforms)
    * move every bucket and break it. This hash keys on WHERE IN FREQUENCY
    * the energy lives: Welch-averaged power spectrum (Hann 1024-frame
    * windows, hop 512, DC bin dropped) → 64 linear frequency bands →
    * bit j = band j > median. The window-mean magnitude spectrum is
    * shift-invariant up to boundary effects (a shifted copy re-slices the
    * same samples; Hann suppresses the leakage difference) and silence
    * prepend/append adds ~zero to every band equally, so offsets, padding,
    * amplitude scaling, and re-encodes of the same material land within a
    * few bits while different material differs in ~32 — composes with
    * [[Dedup.nearDupHamming64]] exactly like the image/energy hashes.
    * Non-PCM-16, undecodable, or shorter-than-one-window bytes hash to
    * null. Channels are mono-mixed before the transform. */
  def audioSpectralHashes(df: DataFrame, binCol: String,
      outCol: String = "shash"): DataFrame =
    df.withColumn(outCol, mediaSketch64(col(binCol), "audio_spectral"))

  /** 64-bit spectral-band hash of one clip, or null when the bytes are
    * not decodable 16-bit PCM with at least one full analysis window
    * (1024 frames). */
  private[graft] def audioSpectralHashOne(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.isEmpty) null
    else {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16 || fmt.getChannels <= 0) null
          else {
            val data = in.readAllBytes()
            val bb = java.nio.ByteBuffer.wrap(data).order(
              if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
              else java.nio.ByteOrder.LITTLE_ENDIAN)
            val ch = fmt.getChannels
            val nFrames = data.length / 2 / ch
            if (nFrames < SpecW) null
            else {
              val mono = new Array[Double](nFrames)
              var f = 0
              while (f < nFrames) {
                var c = 0
                var s = 0.0
                while (c < ch) { s += bb.getShort((f * ch + c) * 2); c += 1 }
                mono(f) = s / ch
                f += 1
              }
              // Welch: mean power per bin across overlapping Hann windows.
              val bins = new Array[Double](SpecW / 2) // index 0 (DC) unused
              val re = new Array[Double](SpecW)
              val im = new Array[Double](SpecW)
              var start = 0
              while (start + SpecW <= nFrames) {
                var i = 0
                while (i < SpecW) {
                  re(i) = mono(start + i) * specHann(i)
                  im(i) = 0.0
                  i += 1
                }
                fftInPlace(re, im)
                i = 1
                while (i < SpecW / 2) {
                  bins(i) += re(i) * re(i) + im(i) * im(i)
                  i += 1
                }
                start += SpecHop
              }
              // 64 linear bands over bins 1..511 (8 bins each; the last
              // band has 7 — the dropped Nyquist neighborhood carries no
              // discriminating audio energy anyway). Mean, not sum, so
              // the short last band is not systematically low.
              val bands = new Array[Double](64)
              var b = 0
              while (b < 64) {
                var s = 0.0
                var cnt = 0
                var i = 1 + 8 * b
                val end = math.min(8 * b + 8, (SpecW / 2) - 1)
                while (i <= end) { s += bins(i); cnt += 1; i += 1 }
                bands(b) = s / cnt
                b += 1
              }
              val sorted = bands.clone()
              java.util.Arrays.sort(sorted)
              val median = sorted(31)
              var bits = 0L
              b = 0
              while (b < 64) {
                if (bands(b) > median) bits |= (1L << b)
                b += 1
              }
              bits
            }
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  /** Synthetic multi-tone WAV for spectral-hash gates: 32 sinusoids, one
    * per band PAIR (band 2k or 2k+1 chosen by splitmix64(family, k)), at
    * each chosen band's center frequency — so the spectral hash's set
    * bits are exactly the 32 chosen bands, two families disagree on ~16
    * pairs (~32 bits of Hamming), and the tone content is a pure function
    * of (family, frame-within-tone): prepending `prefixSilenceFrames` or
    * appending `suffixSilenceFrames` of silence yields the OFFSET/PADDED
    * copies the shift-robustness plant needs, with the tone samples
    * themselves bit-identical. `scaleShift` halves the amplitude per
    * step (the scale-invariance plant). Deterministic, oracle-checkable. */
  def encodeToneWav(family: Long, prefixSilenceFrames: Int = 0,
      suffixSilenceFrames: Int = 0, scaleShift: Int = 0,
      toneFrames: Int = 16000, sampleRate: Int = 8000): Array[Byte] = {
    require(toneFrames >= SpecW && prefixSilenceFrames >= 0 &&
      suffixSilenceFrames >= 0 && scaleShift >= 0)
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val freqs = (0 until 32).map { k =>
      val band = 2 * k + (mix(family * 127L + k) & 1L).toInt
      (4 + 8 * band) * sampleRate / 1024.0
    }.toArray
    val amp = 800.0 / (1 << scaleShift)
    val n = prefixSilenceFrames + toneFrames + suffixSilenceFrames
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var t = 0
    while (t < n) {
      val tt = t - prefixSilenceFrames
      val v =
        if (tt < 0 || tt >= toneFrames) 0.0
        else {
          var s = 0.0
          var k = 0
          while (k < 32) {
            s += amp * StrictMath.sin(2.0 * StrictMath.PI * freqs(k) * tt / sampleRate)
            k += 1
          }
          s
        }
      bb.putShort(math.max(-32768.0, math.min(32767.0, v)).toShort)
      t += 1
    }
    bb.array()
  }

  // ---------------------------------------------------- video containers

  /** Container-level video metadata: MP4 (ISO BMFF) header fields parsed
    * box-by-box, no frame decode. */
  val DecodedVideoType: StructType = StructType(Seq(
    StructField("major_brand", StringType),
    StructField("timescale", LongType),
    StructField("duration_units", LongType),
    StructField("duration_sec", DoubleType),
    StructField("n_tracks", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    // Frame-level metadata from the first track carrying an stbl/stsz
    // sample-size table: null when the container has no sample tables
    // (header-only stubs, fragmented MP4).
    StructField("frame_count", LongType),
    StructField("keyframe_count", LongType),
    StructField("mean_frame_size", DoubleType),
    // Codec + timing (r12): stsd's first sample-entry fourcc (and its
    // video/audio/other classification) from the first stsd-bearing
    // track; fps and total sample duration derived from stts deltas in
    // the track's OWN mdhd timescale (stts units are media-timescale,
    // not movie-timescale). Null when the boxes are absent.
    StructField("codec", StringType),
    StructField("codec_class", StringType),
    StructField("fps", DoubleType),
    StructField("stts_duration_sec", DoubleType),
    // Chunk map (r12): stco/co64 chunk count and the sample total implied
    // by expanding stsc's (first_chunk, samples_per_chunk) runs over it —
    // cross-checkable against stsz's frame_count on well-formed files.
    // Adopted from the SAME track as the frame stats when that track
    // carries a chunk table (so the cross-check never spans tracks),
    // falling back to the first chunk-bearing track otherwise. Null when
    // the boxes are absent or malformed.
    StructField("chunk_count", LongType),
    StructField("chunk_sample_count", LongType)))

  /** Sample-entry fourcc → coarse media class (ISO 14496-15 / common
    * registrations). Unknown fourccs are "other", never an error. */
  private def codecClassOf(fourcc: String): String = fourcc match {
    case "avc1" | "avc3" | "hev1" | "hvc1" | "vp08" | "vp09" | "av01" | "mp4v" => "video"
    case "mp4a" | "opus" | "ac-3" | "ec-3" | "alac" | "fLaC" | "samr" => "audio"
    case _ => "other"
  }

  /** MP4 container parse into `decoded_video` — the video sibling of
    * `decodeImages`/`decodeAudio`. Walks the ISO BMFF box tree
    * (size+fourcc framing; `moov` → `mvhd` timescale/duration, `trak` →
    * `tkhd` 16.16 fixed-point dims from the first visually-sized track); pure JVM, no codec. Bytes that are not a
    * parseable MP4 yield a null struct. Frame decode stays out of scope —
    * an ffmpeg-class demuxer would slot in behind the same
    * (binary -> struct) signature. */
  def decodeVideoMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("decoded_video", mediaCodec(col(binCol), Mp4MetaDecode))

  /** Parse one MP4: top-level `ftyp` (major brand) and `moov`, inside it
    * `mvhd` (v0/v1 timescale + duration) and each `trak`'s `tkhd` (track
    * dims, 16.16 fixed point). Returns null unless both `ftyp` and a
    * `moov`/`mvhd` with a positive timescale are present — RIFF, garbage,
    * and truncated headers all fall out naturally. */
  private[graft] def parseMp4Meta(bytes: Array[Byte]): Row = {
    if (bytes == null || bytes.length < 16) null
    else try {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
      def fourcc(off: Int): String =
        new String(bytes, off, 4, "US-ASCII")
      // Walk sibling boxes in [lo, hi); returns (type, payloadStart,
      // payloadEnd) triples. size==1 → 64-bit largesize; size==0 → to end.
      def boxes(lo: Int, hi: Int): Iterator[(String, Int, Int)] =
        new Iterator[(String, Int, Int)] {
          private var pos = lo
          def hasNext: Boolean = pos + 8 <= hi
          def next(): (String, Int, Int) = {
            val size32 = bb.getInt(pos).toLong & 0xFFFFFFFFL
            val typ = fourcc(pos + 4)
            val (payload, end) =
              if (size32 == 1L && pos + 16 <= hi) {
                val size64 = bb.getLong(pos + 8)
                (pos + 16, pos + math.min(size64, (hi - pos).toLong).toInt)
              } else if (size32 == 0L) (pos + 8, hi)
              else (pos + 8, pos + math.min(size32, (hi - pos).toLong).toInt)
            val safeEnd = math.max(payload, math.min(end, hi))
            pos = if (safeEnd > pos) safeEnd else hi // corrupt size: stop
            (typ, payload, safeEnd)
          }
        }

      var brand: String = null
      var timescale = -1L
      var durationUnits = -1L
      var nTracks = 0
      var width = 0
      var height = 0
      // Frame stats from the FIRST track with an stsz table (in our stubs
      // and most real files, the video track). stss absent => every sample
      // is a sync sample (ISO 14496-12 §8.6.2 contract).
      var frameCount = -1L
      var keyframeCount = -1L
      var sumFrameBytes = 0.0
      var codec: String = null
      var fps = Double.NaN
      var sttsDurSec = Double.NaN
      var chunkCount = -1L
      var chunkSamples = -1L
      // Fallback chunk stats from the first chunk-bearing track, used
      // only when no frame-stats track carries a chunk table (see the
      // adoption comment below).
      var fbChunkCount = -1L
      var fbChunkSamples = -1L
      boxes(0, bytes.length).foreach {
        case ("ftyp", p, e) if e - p >= 4 => brand = fourcc(p)
        case ("moov", mp, me) =>
          boxes(mp, me).foreach {
            case ("mvhd", p, e) if e - p >= 4 =>
              val version = bytes(p) & 0xFF
              if (version == 1 && e - p >= 4 + 8 + 8 + 4 + 8) {
                timescale = bb.getInt(p + 4 + 16).toLong & 0xFFFFFFFFL
                durationUnits = bb.getLong(p + 4 + 16 + 4)
              } else if (version == 0 && e - p >= 4 + 4 + 4 + 4 + 4) {
                timescale = bb.getInt(p + 4 + 8).toLong & 0xFFFFFFFFL
                durationUnits = bb.getInt(p + 4 + 8 + 4).toLong & 0xFFFFFFFFL
              }
            case ("trak", tp, te) =>
              nTracks += 1
              var trakFrames = -1L
              var trakSync = -1L
              var trakSum = 0.0
              var trakMdhdTs = -1L
              var trakCodec: String = null
              var trakSamples = -1L
              var trakUnits = 0L
              var trakChunks = -1L
              var trakStscRuns: Array[(Long, Long)] = null
              boxes(tp, te).foreach {
                case ("tkhd", p, e) =>
                  val version = bytes(p) & 0xFF
                  // width/height are the LAST 8 payload bytes (16.16 fixed)
                  // in both tkhd versions — offset from the end dodges the
                  // v0/v1 time-field width difference.
                  if (e - p >= (if (version == 1) 4 + 32 + 60 else 4 + 20 + 60)) {
                    val w = bb.getInt(e - 8) >>> 16
                    val h = bb.getInt(e - 4) >>> 16
                    // First visually-sized track wins (audio tracks carry 0x0).
                    if (width == 0 && height == 0 && (w > 0 || h > 0)) {
                      width = w; height = h
                    }
                  }
                case ("mdia", dp, de) => boxes(dp, de).foreach {
                  case ("mdhd", p, e) =>
                    // Media timescale: v0 ver/flags, ctime(4), mtime(4),
                    // timescale; v1 widens the times to 8 bytes.
                    val version = bytes(p) & 0xFF
                    if (version == 1 && e - p >= 4 + 8 + 8 + 4)
                      trakMdhdTs = bb.getInt(p + 4 + 16).toLong & 0xFFFFFFFFL
                    else if (version == 0 && e - p >= 4 + 4 + 4 + 4)
                      trakMdhdTs = bb.getInt(p + 4 + 8).toLong & 0xFFFFFFFFL
                  case ("minf", ip, ie) => boxes(ip, ie).foreach {
                    case ("stbl", sp, se) => boxes(sp, se).foreach {
                      case ("stsz", p, e) if e - p >= 12 =>
                        // ver/flags(4), sample_size(4), sample_count(4)
                        // [, per-sample sizes when sample_size == 0].
                        val uniform = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        val cnt = bb.getInt(p + 8).toLong & 0xFFFFFFFFL
                        if (uniform != 0L) {
                          trakFrames = cnt
                          trakSum = uniform.toDouble * cnt
                        } else if (cnt <= (e - p - 12L) / 4L) {
                          trakFrames = cnt
                          var j = 0
                          var sum = 0.0
                          while (j < cnt.toInt) {
                            sum += (bb.getInt(p + 12 + 4 * j).toLong & 0xFFFFFFFFL).toDouble
                            j += 1
                          }
                          trakSum = sum
                        }
                      case ("stss", p, e) if e - p >= 8 =>
                        // Mirror the stsz bound check: entry_count must fit
                        // the box payload (4 bytes/entry after ver/flags +
                        // count), else a truncated/crafted stss would claim
                        // an arbitrary keyframe count with no entries.
                        val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        // -2 = stss PRESENT but entries unreadable: the
                        // sync set is unknown, which is NOT the same as
                        // the absence rule (absent => all sync).
                        trakSync = if (cnt <= (e - p - 8L) / 4L) cnt else -2L
                      case ("stsd", p, e) if e - p >= 16 =>
                        // ver/flags(4), entry_count(4), then sample
                        // entries (size(4) + format fourcc(4) + ...).
                        // Only the FIRST entry's fourcc is read; the
                        // 16-byte guard covers it.
                        val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        if (cnt >= 1L) trakCodec = fourcc(p + 12)
                      case ("stts", p, e) if e - p >= 8 =>
                        // (sample_count, sample_delta) runs, 8 bytes each —
                        // same payload-bound rule as stsz/stss. Durations
                        // are MEDIA-timescale units (mdhd), summed exactly.
                        val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        if (cnt <= (e - p - 8L) / 8L) {
                          var samples = 0L
                          var units = 0L
                          var bad = false
                          var j = 0
                          while (j < cnt.toInt && !bad) {
                            val sc = bb.getInt(p + 8 + 8 * j).toLong & 0xFFFFFFFFL
                            val sd = bb.getInt(p + 12 + 8 * j).toLong & 0xFFFFFFFFL
                            // Unsigned-32 x unsigned-32 can overflow a Long
                            // (crafted runs like 0xFFFFFFFF x 0xFFFFFFFF) —
                            // a wrapped sum would emit confident garbage
                            // fps; treat overflow as unparseable timing.
                            if (sc != 0L && sd > Long.MaxValue / sc) bad = true
                            else {
                              val prod = sc * sd
                              if (units > Long.MaxValue - prod) bad = true
                              else { samples += sc; units += prod }
                            }
                            j += 1
                          }
                          if (!bad) {
                            trakSamples = samples
                            trakUnits = units
                          }
                        }
                      case ("stco", p, e) if e - p >= 8 =>
                        // Chunk offset table: ver/flags(4), entry_count(4),
                        // u32 offsets. Only the COUNT is structural — the
                        // offsets point into mdat, out of scope here. Same
                        // payload-bound rule as stsz/stss.
                        val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        if (cnt <= (e - p - 8L) / 4L) trakChunks = cnt
                      case ("co64", p, e) if e - p >= 8 =>
                        // 64-bit chunk offsets (files past 4 GiB): 8-byte
                        // entries, otherwise identical to stco.
                        val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        if (cnt <= (e - p - 8L) / 8L) trakChunks = cnt
                      case ("stsc", p, e) if e - p >= 8 =>
                        // Sample-to-chunk runs: (first_chunk,
                        // samples_per_chunk, sample_description_index)
                        // triples, 12 bytes each. The sdi is a codec-config
                        // pointer, not structural — only the first two are
                        // kept, for the chunk-map expansion below.
                        val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                        if (cnt <= (e - p - 8L) / 12L) {
                          val runs = new Array[(Long, Long)](cnt.toInt)
                          var j = 0
                          while (j < cnt.toInt) {
                            runs(j) = ((bb.getInt(p + 8 + 12 * j).toLong & 0xFFFFFFFFL),
                              (bb.getInt(p + 12 + 12 * j).toLong & 0xFFFFFFFFL))
                            j += 1
                          }
                          trakStscRuns = runs
                        }
                      case _ => ()
                    }
                    case _ => ()
                  }
                  case _ => ()
                }
                case _ => ()
              }
              // The implied chunk sample total expands stsc's runs: run i
              // covers chunks [first_i, first_{i+1}), the last run extends
              // to the stco count (ISO 14496-12 §8.7.4). Malformed runs —
              // first_chunk not 1-based strictly increasing, or past the
              // chunk count — yield an unknown (-1 -> null) sample total,
              // never garbage; span×samples_per_chunk is overflow-guarded
              // like the stts products.
              def expandedChunkSamples(): Long =
                if (trakStscRuns == null) -1L
                else if (trakStscRuns.isEmpty) { if (trakChunks == 0L) 0L else -1L }
                else {
                  var ok = trakStscRuns(0)._1 == 1L
                  var total = 0L
                  var i = 0
                  while (i < trakStscRuns.length && ok) {
                    val (first, spc) = trakStscRuns(i)
                    val next =
                      if (i + 1 < trakStscRuns.length) trakStscRuns(i + 1)._1
                      else trakChunks + 1
                    if (next <= first || next > trakChunks + 1) ok = false
                    else {
                      val span = next - first
                      if (spc != 0L && span > Long.MaxValue / spc) ok = false
                      else {
                        val prod = span * spc
                        if (total > Long.MaxValue - prod) ok = false
                        else total += prod
                      }
                    }
                    i += 1
                  }
                  if (ok) total else -1L
                }
              if (frameCount < 0 && trakFrames >= 0) {
                frameCount = trakFrames
                sumFrameBytes = trakSum
                // absent (-1) => every sample is sync; corrupt (-2) =>
                // unknown, surfaces as a null keyframe_count.
                keyframeCount =
                  if (trakSync >= 0) trakSync
                  else if (trakSync == -2L) -2L
                  else trakFrames
                // Chunk map PREFERENTIALLY from the frame-stats track:
                // the advertised cross-check (chunk_sample_count vs
                // frame_count) must compare ONE track's sample tables,
                // never an stco from track 1 against an stsz from track 2.
                if (trakChunks >= 0) {
                  chunkCount = trakChunks
                  chunkSamples = expandedChunkSamples()
                }
              }
              // Fallback: first chunk-bearing track, for chunk-table-only
              // containers (no stsz anywhere) — adopted at the end only if
              // no frame-stats track supplied a chunk map.
              if (fbChunkCount < 0 && trakChunks >= 0) {
                fbChunkCount = trakChunks
                fbChunkSamples = expandedChunkSamples()
              }
              // First stsd-bearing track names the codec; first track with
              // stts + a positive mdhd timescale yields timing (the two
              // adoptions are independent — real files can split them).
              if (codec == null && trakCodec != null) codec = trakCodec
              if (sttsDurSec.isNaN && trakSamples > 0 && trakUnits > 0 &&
                  trakMdhdTs > 0) {
                sttsDurSec = trakUnits.toDouble / trakMdhdTs
                fps = trakSamples / sttsDurSec
              }
            case _ => ()
          }
        case _ => ()
      }
      if (brand == null || timescale <= 0 || durationUnits < 0) null
      else Row(brand, timescale, durationUnits,
        durationUnits.toDouble / timescale, nTracks, width, height,
        if (frameCount >= 0) frameCount else null,
        if (frameCount >= 0 && keyframeCount >= 0) keyframeCount else null,
        if (frameCount > 0) sumFrameBytes / frameCount
        else if (frameCount == 0) 0.0 else null,
        codec,
        if (codec != null) codecClassOf(codec) else null,
        if (fps.isNaN) null else fps,
        if (sttsDurSec.isNaN) null else sttsDurSec,
        if (chunkCount >= 0) chunkCount
        else if (fbChunkCount >= 0) fbChunkCount else null,
        if (chunkCount >= 0) { if (chunkSamples >= 0) chunkSamples else null }
        else if (fbChunkCount >= 0 && fbChunkSamples >= 0) fbChunkSamples
        else null)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Encode a minimal valid MP4 container (`ftyp` + `moov`(`mvhd` +
    * `trak`(`tkhd`)...)) — the synthetic generator for video-typed columns,
    * mirroring `encodePcmWav`/`encodeSolidImage`: every header field is
    * spec-derived, so parsed metadata is exactly predictable and generated
    * corpora stay oracle-checkable. No media data (`mdat`) — this is a
    * container-metadata stub by design; the boxes are structurally valid
    * ISO BMFF v0. */
  def encodeMp4Stub(timescale: Int, durationUnits: Long,
      tracks: Seq[(Int, Int)], frameSizes: Seq[Int] = Nil,
      syncSamples: Seq[Int] = Nil, codec: String = null,
      sampleDeltas: Seq[Int] = Nil, mediaTimescale: Int = 0,
      chunkSamples: Seq[Int] = Nil): Array[Byte] = {
    require(timescale > 0 && durationUnits >= 0 && durationUnits <= Int.MaxValue,
      s"bad MP4 spec: timescale=$timescale duration=$durationUnits (v0 caps at 2^31-1)")
    require(syncSamples.isEmpty || frameSizes.nonEmpty,
      "syncSamples (stss) without frameSizes (stsz) is not representable")
    require(codec == null || codec.length == 4,
      s"stsd sample-entry format must be a fourcc, got '$codec'")
    require(sampleDeltas.isEmpty || mediaTimescale > 0,
      "sampleDeltas (stts) need a positive mediaTimescale (mdhd)")
    require(chunkSamples.forall(_ >= 0),
      s"chunkSamples are per-chunk sample counts, must be >= 0")
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    // Sample tables for the FIRST track: stsz (compact form when all
    // frames share a size, per-entry form otherwise) and, when
    // `syncSamples` names 1-based keyframe positions, an stss — its
    // ABSENCE means every sample is sync, which the parser must honor.
    val stbl: Array[Byte] =
      if (frameSizes.isEmpty && codec == null && sampleDeltas.isEmpty &&
          chunkSamples.isEmpty) Array.empty
      else {
        val stsz =
          if (frameSizes.isEmpty) Array.empty[Byte]
          else {
            val uniform = frameSizes.distinct.length == 1
            box("stsz", {
              val b = java.nio.ByteBuffer.allocate(
                12 + (if (uniform) 0 else 4 * frameSizes.length))
              b.putInt(0).putInt(if (uniform) frameSizes.head else 0)
                .putInt(frameSizes.length)
              if (!uniform) frameSizes.foreach(b.putInt)
              b.array()
            })
          }
        val stss =
          if (syncSamples.isEmpty) Array.empty[Byte]
          else box("stss", {
            val b = java.nio.ByteBuffer.allocate(8 + 4 * syncSamples.length)
            b.putInt(0).putInt(syncSamples.length)
            syncSamples.foreach(b.putInt)
            b.array()
          })
        // stsd: one sample entry — size(4) + fourcc(4) + 6 reserved bytes
        // + data_reference_index(2), the ISO 14496-12 SampleEntry minimum.
        val stsd =
          if (codec == null) Array.empty[Byte]
          else box("stsd", {
            val b = java.nio.ByteBuffer.allocate(8 + 16)
            b.putInt(0).putInt(1).putInt(16).put(codec.getBytes("US-ASCII"))
            b.array() // trailing 8 bytes stay zero (reserved + dref idx 1->0 stub)
          })
        // stts: run-length (sample_count, sample_delta) pairs over equal
        // consecutive deltas — the spec's own compression.
        val stts =
          if (sampleDeltas.isEmpty) Array.empty[Byte]
          else {
            val runs = sampleDeltas.foldLeft(List.empty[(Int, Int)]) {
              case ((c, d) :: tail, x) if d == x => (c + 1, d) :: tail
              case (acc, x) => (1, x) :: acc
            }.reverse
            box("stts", {
              val b = java.nio.ByteBuffer.allocate(8 + 8 * runs.length)
              b.putInt(0).putInt(runs.length)
              runs.foreach { case (c, d) => b.putInt(c).putInt(d) }
              b.array()
            })
          }
        // Chunk map: stco carries one u32 offset per chunk (synthetic
        // monotonic values — the parser reads only the count) and stsc
        // run-length-compresses equal consecutive samples-per-chunk
        // values into (first_chunk, samples_per_chunk, sdi=1) triples,
        // the spec's own compression, mirroring stts.
        val stco =
          if (chunkSamples.isEmpty) Array.empty[Byte]
          else box("stco", {
            val b = java.nio.ByteBuffer.allocate(8 + 4 * chunkSamples.length)
            b.putInt(0).putInt(chunkSamples.length)
            chunkSamples.indices.foreach(i => b.putInt(0x1000 + 0x100 * i))
            b.array()
          })
        val stsc =
          if (chunkSamples.isEmpty) Array.empty[Byte]
          else {
            val runs = chunkSamples.zipWithIndex.foldLeft(List.empty[(Int, Int)]) {
              case (acc @ ((_, spc) :: _), (v, _)) if spc == v => acc
              case (acc, (v, i)) => (i + 1, v) :: acc // first_chunk is 1-based
            }.reverse
            box("stsc", {
              val b = java.nio.ByteBuffer.allocate(8 + 12 * runs.length)
              b.putInt(0).putInt(runs.length)
              runs.foreach { case (first, spc) => b.putInt(first).putInt(spc).putInt(1) }
              b.array()
            })
          }
        // mdhd (media timescale) v0 — required for stts to be
        // interpretable; duration = sum of the sample deltas.
        val mdhd =
          if (mediaTimescale <= 0) Array.empty[Byte]
          else box("mdhd", {
            val b = java.nio.ByteBuffer.allocate(24)
            b.putInt(0).putInt(0).putInt(0).putInt(mediaTimescale)
              .putInt(sampleDeltas.map(_.toLong).sum.toInt).putInt(0)
            b.array()
          })
        box("mdia", mdhd ++ box("minf",
          box("stbl", stsd ++ stts ++ stsc ++ stco ++ stsz ++ stss)))
      }
    val ftyp = box("ftyp", {
      val b = java.nio.ByteBuffer.allocate(16)
      b.put("isom".getBytes("US-ASCII")).putInt(512)
        .put("isom".getBytes("US-ASCII")).put("mp41".getBytes("US-ASCII"))
      b.array()
    })
    val mvhd = box("mvhd", {
      // v0: ver/flags, ctime, mtime, timescale, duration, rate, volume,
      // reserved(10), matrix(36), predefined(24), next_track_id.
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(durationUnits.toInt)
      b.putInt(0x00010000).putShort(0x0100.toShort).position(b.position() + 10)
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      b.position(b.position() + 24)
      b.putInt(tracks.size + 1)
      b.array()
    })
    val traks = tracks.zipWithIndex.map { case ((w, h), i) =>
      require(w >= 0 && w < 65536 && h >= 0 && h < 65536,
        s"tkhd dims are 16.16 fixed point: ${w}x$h out of range")
      box("trak", (if (i == 0) stbl else Array.empty[Byte]) ++ box("tkhd", {
        // v0: ver/flags, ctime, mtime, track_id, reserved, duration,
        // reserved(8), layer, alternate, volume, reserved, matrix(36),
        // width, height (16.16).
        val b = java.nio.ByteBuffer.allocate(84)
        b.putInt(0).putInt(0).putInt(0).putInt(i + 1).putInt(0)
          .putInt(durationUnits.toInt)
        b.position(b.position() + 8)
        b.putShort(0).putShort(0).putShort(0).putShort(0)
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
        b.putInt(w << 16).putInt(h << 16)
        b.array()
      }))
    }
    val moov = box("moov", mvhd ++ traks.flatten)
    ftyp ++ moov
  }

  /** VIDEO near-dup fingerprint — the third leg of
    * the modality triple (image pHash, audio energy/spectral, video).
    * Real frame decode needs a codec stack this container deliberately
    * lacks, so the certified invariance class is the one the container
    * math makes exact: RE-MUXING. The hash is computed from the CODED
    * FRAME PAYLOADS located through the sample tables (stsz sizes +
    * stsc/stco chunk map → per-sample mdat offsets), so any transform
    * that rearranges the container while preserving the coded stream —
    * re-chunking/re-interleaving, timestamp/timescale rewrites, box
    * reordering, metadata edits, faststart moov relocation — yields the
    * IDENTICAL 64-bit hash, and a copy with a few replaced frames (ad
    * splice, re-encoded intro) lands within a few bits: 16 evenly-spaced
    * samples contribute 4 bits each (top nibble of the frame payload's
    * xxhash64), so one replaced frame moves at most its sampled nibbles.
    * Pairs via [[Dedup.nearDupHamming64]] exactly like the image/audio
    * hashes; a re-ENCODE changes every payload byte and is out of scope
    * (that upgrade slots a codec behind [[videoHashOne]]'s same
    * signature). Bytes that are not an MP4 with a complete, in-bounds
    * sample table hash to null. */
  def videoHashes(df: DataFrame, binCol: String, outCol: String = "vhash"): DataFrame =
    df.withColumn(outCol, mediaSketch64(col(binCol), "video_payload"))

  /** 64-bit frame-payload fingerprint of one MP4, or null unless the
    * first track carrying a COMPLETE sample-location table (per-sample
    * stsz sizes + stsc runs + stco/co64 offsets, runs consistent with
    * the sample count, every located payload inside the file) exists.
    * 16 sample indices floor(k·n/16) are hashed (XXH64 over the coded
    * payload bytes, seed 0x5EED); sample k's top nibble lands at bits
    * [4k, 4k+4). Deterministic across JVMs — pure byte arithmetic. */
  /** Absolute sample/chunk-count ceiling for [[videoHashOne]]'s table
    * allocations (2^24 ≈ 16.7M — ~155 hours at 30 fps). The per-branch
    * length bounds already tie counts to bytes PRESENT, but the compact
    * stsz form at uniform=1 still admits cnt ≈ file length (~16× Long-array
    * amplification on a crafted file — r14 ADVICE); this cap closes that
    * residue for every branch at once. */
  private val MaxSamples: Long = 1L << 24

  private[graft] def videoHashOne(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.length < 16) return null
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
      def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
      def boxes(lo: Int, hi: Int): Iterator[(String, Int, Int)] =
        new Iterator[(String, Int, Int)] {
          private var pos = lo
          def hasNext: Boolean = pos + 8 <= hi
          def next(): (String, Int, Int) = {
            val size32 = bb.getInt(pos).toLong & 0xFFFFFFFFL
            val typ = fourcc(pos + 4)
            val (payload, end) =
              if (size32 == 1L && pos + 16 <= hi) {
                val size64 = bb.getLong(pos + 8)
                (pos + 16, pos + math.min(size64, (hi - pos).toLong).toInt)
              } else if (size32 == 0L) (pos + 8, hi)
              else (pos + 8, pos + math.min(size32, (hi - pos).toLong).toInt)
            val safeEnd = math.max(payload, math.min(end, hi))
            pos = if (safeEnd > pos) safeEnd else hi
            (typ, payload, safeEnd)
          }
        }
      // First track with a complete sample-location table wins.
      var sizes: Array[Long] = null
      var offsets: Array[Long] = null // per-CHUNK offsets
      var stscRuns: Array[(Long, Long)] = null
      boxes(0, bytes.length).foreach {
        case ("moov", mp, me) => boxes(mp, me).foreach {
          case ("trak", tp, te) if sizes == null || offsets == null || stscRuns == null =>
            var tSizes: Array[Long] = null
            var tOffs: Array[Long] = null
            var tRuns: Array[(Long, Long)] = null
            boxes(tp, te).foreach {
              case ("mdia", dp, de) => boxes(dp, de).foreach {
                case ("minf", ip, ie) => boxes(ip, ie).foreach {
                  case ("stbl", sp, se) => boxes(sp, se).foreach {
                    case ("stsz", p, e) if e - p >= 12 =>
                      val uniform = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                      val cnt = bb.getInt(p + 8).toLong & 0xFFFFFFFFL
                      // Compact-form bound: every in-bounds sample needs
                      // `uniform` bytes of file, so cnt ≤ len/uniform is a
                      // necessary condition — checked BEFORE the array
                      // allocation, else a crafted count (2^31 samples in a
                      // 1 KB header, or len/4096 samples of size 4096 in a
                      // 512 MB file) forces a multi-GB allocation whose
                      // OutOfMemoryError is not NonFatal and kills the task
                      // instead of nulling the hash. The len/uniform bound
                      // alone still leaks at uniform=1 (cnt ≈ len ⇒ ~16·len
                      // of Long arrays — r14 ADVICE), so MaxSamples caps the
                      // count ABSOLUTELY on every table branch: 2^24 frames
                      // is ~155 h at 30 fps, far above any real clip, and
                      // bounds the per-task scratch at ~256 MB worst-case.
                      if (cnt > MaxSamples) ()
                      else if (uniform != 0L && cnt <= bytes.length.toLong / uniform)
                        tSizes = Array.fill(cnt.toInt)(uniform)
                      else if (uniform == 0L && cnt <= (e - p - 12L) / 4L) {
                        tSizes = new Array[Long](cnt.toInt)
                        var j = 0
                        while (j < cnt.toInt) {
                          tSizes(j) = bb.getInt(p + 12 + 4 * j).toLong & 0xFFFFFFFFL
                          j += 1
                        }
                      }
                    case ("stco", p, e) if e - p >= 8 =>
                      val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                      if (cnt <= MaxSamples && cnt <= (e - p - 8L) / 4L) {
                        tOffs = new Array[Long](cnt.toInt)
                        var j = 0
                        while (j < cnt.toInt) {
                          tOffs(j) = bb.getInt(p + 8 + 4 * j).toLong & 0xFFFFFFFFL
                          j += 1
                        }
                      }
                    case ("co64", p, e) if e - p >= 8 =>
                      val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                      if (cnt <= MaxSamples && cnt <= (e - p - 8L) / 8L) {
                        tOffs = new Array[Long](cnt.toInt)
                        var j = 0
                        while (j < cnt.toInt) {
                          tOffs(j) = bb.getLong(p + 8 + 8 * j)
                          j += 1
                        }
                      }
                    case ("stsc", p, e) if e - p >= 8 =>
                      val cnt = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                      if (cnt <= MaxSamples && cnt <= (e - p - 8L) / 12L) {
                        tRuns = new Array[(Long, Long)](cnt.toInt)
                        var j = 0
                        while (j < cnt.toInt) {
                          tRuns(j) = ((bb.getInt(p + 8 + 12 * j).toLong & 0xFFFFFFFFL),
                            (bb.getInt(p + 12 + 12 * j).toLong & 0xFFFFFFFFL))
                          j += 1
                        }
                      }
                    case _ => ()
                  }
                  case _ => ()
                }
                case _ => ()
              }
              case _ => ()
            }
            if (tSizes != null && tOffs != null && tRuns != null) {
              sizes = tSizes; offsets = tOffs; stscRuns = tRuns
            }
          case _ => ()
        }
        case _ => ()
      }
      if (sizes == null || offsets == null || stscRuns == null ||
          sizes.isEmpty || stscRuns.isEmpty || stscRuns(0)._1 != 1L) return null
      // Expand the chunk map to per-SAMPLE absolute offsets; any
      // inconsistency (run bounds, count mismatch, out-of-file payload)
      // nulls the hash — never garbage bits.
      val n = sizes.length
      val sampleOff = new Array[Long](n)
      var si = 0
      var ri = 0
      var c = 1L // 1-based chunk index
      while (c <= offsets.length && si < n) {
        while (ri + 1 < stscRuns.length && stscRuns(ri + 1)._1 <= c) ri += 1
        if (stscRuns(ri)._1 > c) return null // runs skip this chunk: malformed
        var off = offsets((c - 1).toInt)
        var j = 0L
        val spc = stscRuns(ri)._2
        while (j < spc && si < n) {
          sampleOff(si) = off
          off += sizes(si)
          si += 1
          j += 1
        }
        c += 1
      }
      if (si != n) return null // chunk map does not cover the sample count
      var k = 0
      while (k < n) {
        // Overflow-safe form: `sampleOff + size > len` wraps negative for
        // a crafted co64 offset near Long.MaxValue and would PASS, sending
        // hashUnsafeBytes into a wild native read (SIGSEGV, not an
        // exception). sizes(k) ≤ Int.MaxValue is established first, so the
        // subtraction below cannot itself overflow.
        if (sampleOff(k) < 0 || sizes(k) > Int.MaxValue ||
            sampleOff(k) > bytes.length.toLong - sizes(k)) return null
        k += 1
      }
      var bits = 0L
      k = 0
      while (k < 16) {
        val idx = ((k.toLong * n) / 16L).toInt
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + sampleOff(idx),
          sizes(idx).toInt, 0x5EEDL)
        bits |= ((h >>> 60) & 0xFL) << (4 * k)
        k += 1
      }
      java.lang.Long.valueOf(bits)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** RE-ENCODE-TOLERANT video signature — the
    * coarse sibling of [[videoHashes]]. The payload hash certifies the
    * re-MUX class exactly but a re-ENCODE rewrites every coded byte and
    * defeats it; this signature never reads the payload at all. It hashes
    * the per-sample SIZE profile from the stsz table: frame sizes track
    * the content's bitrate-motion curve (complex/high-motion scenes cost
    * more bits at any similar-settings encode), and that curve is the
    * container-math-visible shadow of the content. 64 buckets over the
    * NORMALIZED sample index (so a frame-rate change resamples the same
    * curve), per-bucket MEDIAN frame size (the median of a bucket ignores
    * its minority keyframe spikes, so GOP-structure changes between
    * encodes do not move it), bit k = bucket-median k > the median of the
    * 64 bucket medians (a rank test — invariant under ANY monotone
    * per-frame size transform, which covers proportional bitrate scaling
    * exactly). Measured on the planted two-pass model
    * ([[bitrateProfileFrameSizes]], DriveVideoProfile): re-encodes at
    * 0.6–1.8× bitrate with different GOP, rate-control noise and frame
    * rate land at median 3–4 bits (p95 ≤ 8, max 13 over 400 pairs);
    * independent content sits binomially around 32 with min 11–15 over
    * 1000 pairs. This is a COARSE CANDIDATE signature — the two tails
    * brush, so verify candidates downstream (exactly the
    * MinHash-then-exact-Jaccard contract): [[videoProfilePairs]] is
    * that composition and the operator to reach for; this column form
    * exists for guards and custom pipelines. Not-an-MP4, fewer than 64 samples,
    * or a FLAT size profile (compact uniform stsz — no curve to key on)
    * hash to null: a flat profile carries no discriminating signal and
    * would otherwise pair every constant-bitrate file with every other. */
  def videoSizeProfileHashes(df: DataFrame, binCol: String,
      outCol: String = "vphash"): DataFrame =
    df.withColumn(outCol, mediaSketch64(col(binCol), "video_profile"))

  /** Video re-encode near-dup PAIRS — the candidates-then-verify
    * composition over the size profile, exactly the MinHash →
    * exact-Jaccard contract: [[videoSizeProfileHashes]]'s paired-bucket
    * bits band into Hamming candidates (recall stage — re-encodes sit
    * ≤ 13 bits, so `maxDistance` 14 over-fetches), then each candidate
    * pair is verified by the SPEARMAN RANK CORRELATION of the two full
    * 64-bucket profiles (precision stage — measured over 59,700
    * independent-content pairs: same-content ≥ 0.939, independent max
    * 0.751, so `minSpearman` 0.85 splits the gap with margin both ways;
    * DriveVideoProfile). One byte-parse pass computes the bits, the
    * zero-mean unit-norm rank vector AND the content-compatible cell key
    * ([[videoProfileParse]]), the correlation is a plain
    * `zip_with`/`aggregate` dot product (codegen, no UDF), and the
    * verify join touches only candidate ids — the shuffle is
    * O(candidates), not O(rows²). The CANDIDATE stage auto-switches:
    * small corpora use the banded pigeonhole self-join, but radius 14
    * forces 4-bit slices whose key space is only 256 values, so past
    * `16·maxBucket` rows (where the AVERAGE bucket crosses the cap and
    * the join would silently drop toward zero recall) candidates come
    * from broadcast CELL-PARTITIONED multi-index Hamming probes instead
    * ([[graft.functions.HammingIndexKernel.MihCellIndex]] — complete for
    * the radius within the probed cells, zero cap loss, exact XOR
    * pre-verify, and the SPEARMAN VERIFY FUSED INTO THE PROBE via a
    * quantized rank payload: smooth-curve bits have fat correlated
    * Hamming tails (~10⁻³ of independent pairs inside radius 14), and
    * verifying in-memory before emission keeps the downstream shuffle at
    * O(true pairs) instead of O(tail candidates) — the r15 scale lesson,
    * a 1M-video run died on exactly that join's spill before the fuse).
    * The index is partitioned by a CONTENT-COMPATIBLE cell key computed
    * in the same container parse as the profile ([[profileCellOf]]:
    * log-1.5 duration bucket × log-2 fps bucket from the trak's mdhd +
    * sample count — r16, the fix for the flat index's quadratic
    * aggregate probe work): each probe touches only its own cell and the
    * 3×3 bucket neighborhood, so per-probe member scans are bounded by
    * the CELL population, not the corpus. Recall contract: a re-encode
    * preserves presentation duration to rounding and shifts fps ≤ 2×
    * (≤ 1 log-2 bucket) — pairs beyond that neighborhood (a >4× fps
    * resample, a trim that changes duration >1.5×) are outside the
    * certified invariance class on this path; unknown-duration videos
    * (absent/zero mdhd) pair only among themselves; a corpus
    * concentrated in one cell degrades gracefully to the flat index's
    * behavior. The per-shard driver collect + broadcast is sized in
    * BYTES ([[graft.functions.HammingIndexKernel.indexBytesPerRow]]:
    * 104 B/row with the 64-byte rank payload ⇒ ~11.5M rows per shard at
    * the default 1.2 GB `maxIndexBytes` — the r15 50M-ROW cap was
    * inherited from the 24 B/row pHash form and under-counted this
    * payload 4×), hash-range multi-pass past that with one index
    * resident at a time; the index path requires numeric ids (cast to
    * long, the [[Dedup.pHashIdIndex]] contract). Each probe emits
    * verified `(id, hamming, spearman)` STRUCTS — the downstream is one
    * explode, never a re-join/re-verify (r16). Thread `onCapDrops` to
    * see banded cap losses (the index path reports (0,0) — it cannot
    * drop). The cell path's engagement (and its neighborhood recall
    * class) is LOGGED at runtime (r17 — the banded→cell switch changes
    * the recall contract and was invisible before); `flatIndex = true`
    * is the escape hatch for callers needing the r15 corpus-wide recall
    * on the index path — every row indexes and probes ONE cell, at the
    * flat index's O(corpus-fraction)-per-probe cost. Returns
    * `(id_a, id_b, hamming, spearman)` for surviving pairs. */
  def videoProfilePairs(df: DataFrame, idCol: String, binCol: String,
      maxDistance: Int = 14, pieces: Int = 16, minSpearman: Double = 0.85,
      maxBucket: Int = 10000, onCapDrops: (Long, Long) => Unit = null,
      maxIndexBytes: Long =
        graft.functions.HammingIndexKernel.DefaultIndexBudgetBytes,
      onIndexStats: (Int, Int, Int) => Unit = null,
      flatIndex: Boolean = false): DataFrame = {
    // Materialized once (lazy, serialized — the Dedup.CandLevel decision):
    // read by the candidate stage and BOTH sides of the verify join;
    // without it the MP4 parse re-runs once per reference.
    val feats = StageCheckpoints.local(videoProfileFeatures(df, idCol, binCol),
      eager = false, Dedup.CandLevel)
    val hashed = feats.where(col("__vphash").isNotNull)
    // Candidate-stage choice. The banded self-join's key space is only
    // pieces · 2^(64/pieces) values (256 at the default 4-bit slices —
    // radius 14 under the pigeonhole FORCES 16 pieces, 64%pieces==0), so
    // past ~16·maxBucket rows the AVERAGE bucket crosses the cap and the
    // join path silently drops toward zero recall no matter how uniform
    // the bits are. Above that, candidates come from the cell-partitioned
    // multi-index probes (16-bit slices, e=3 — complete for the radius,
    // zero cap loss), broadcast-handled, hash-range multi-pass past the
    // byte budget (pairs can straddle shards, but each pair is emitted
    // exactly once — by the shard holding its SMALLER id, probed from
    // its larger side).
    // Path-choice input computed from ONE aggregate that the index path
    // needs anyway (r17 — the r16 shape ran a dedicated hashed.count()
    // job first): per-cell populations over the checkpointed features —
    // this job also materializes the checkpoint, n is their sum, and the
    // multi-pass grouping below reuses the rows instead of re-counting.
    // `flatIndex` collapses every row into one cell — the corpus-wide
    // recall escape hatch (see the recall-contract note below).
    val cellOf =
      if (flatIndex) lit(0L) else col("__vpcell")
    val cellCounts = hashed.groupBy(cellOf.as("__c")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val n = cellCounts.map(_._2).sum
    if (n <= 16L * maxBucket) {
      val cands = Dedup.nearDupHamming64(feats, idCol, "__vphash",
        maxDistance = maxDistance, pieces = pieces, maxBucket = maxBucket,
        onCapDrops = onCapDrops)
      val ranks = feats.where(col("__vpranks").isNotNull)
        .select(col(idCol).as("__rid"), col("__vpranks"))
      cands
        .join(ranks.select(col("__rid").as("id_a"), col("__vpranks").as("__ra")), "id_a")
        .join(ranks.select(col("__rid").as("id_b"), col("__vpranks").as("__rb")), "id_b")
        .withColumn("spearman", aggregate(
          zip_with(col("__ra"), col("__rb"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v))
        .where(col("spearman") >= minSpearman)
        .select(col("id_a"), col("id_b"), col("hamming"), col("spearman"))
    } else {
      if (onCapDrops != null) onCapDrops(0L, 0L) // index probes never cap
      val K = graft.functions.HammingIndexKernel
      // Surface the recall contract at runtime (r17 — ADVICE): past this
      // corpus size the candidate stage switches from the corpus-wide
      // banded join to the cell-partitioned index, whose recall class is
      // the 3×3 duration×fps neighborhood — a pair whose fps shifted >2×
      // or duration >~1.5× is outside it. Callers needing the old
      // corpus-wide recall pass `flatIndex = true` (one cell, every
      // probe corpus-wide — the r15 flat-index cost profile).
      if (!flatIndex)
        logWarning(s"cell-partitioned index path " +
          s"engaged at n=$n (> 16·maxBucket=${16L * maxBucket}): recall is " +
          "the 3x3 duration/fps cell neighborhood (re-encode invariance " +
          "class); pass flatIndex=true for corpus-wide recall")
      val slim = hashed.select(col(idCol).cast("long").as("__id"),
        col("__vphash").as("__h"), col("__vpranks").as("__r"),
        col("__vpr2").as("__r2"), cellOf.as("__c"))
      // Probe neighborhood: the row's own (durB, fpsB) cell ± 1 in each
      // dimension — covers duration rounding at a bucket edge and fps
      // changes up to 2× exactly. Unknown-duration rows probe only the
      // reserved unknown cell (they index there too). Pure column
      // arithmetic on the packed key; runs inside codegen. The flat
      // escape hatch probes the single collapsed cell.
      val durB = shiftright(col("__c"), 32)
      val fpsB = shiftright(shiftleft(col("__c"), 32), 32)
      def packCell(a: Column, b: Column): Column =
        shiftleft(a, 32).bitwiseOR(b.bitwiseAND(lit(0xFFFFFFFFL)))
      val probeCells =
        if (flatIndex) array(lit(0L))
        else when(col("__c") === lit(ProfileCellUnknown),
          array(lit(ProfileCellUnknown))).otherwise(
          array((for { dd <- -1 to 1; ff <- -1 to 1 }
            yield packCell(durB + lit(dd.toLong), fpsB + lit(ff.toLong))): _*))
      // Shards sized by BYTES (r16): at 104 B/row plus the cell index's
      // worst-case 128 bucket tables (r17 — the tables were previously
      // uncounted, letting a maxed shard broadcast ~10% over budget) the
      // default 1.2 GB budget shards every ~10.2M rows, and the
      // rank-byte allocation below can never overflow an Int
      // (shardRowCap's array clamp).
      val shardCap = graft.functions.HammingIndexKernel.shardRowCap(
        maxIndexBytes, pieces = 4, hasIds = true, rankLen = ProfileBuckets,
        cellTables = 128)
      var pairs: DataFrame = null
      if (n <= shardCap) {
        // Single resident index over the whole corpus — one pass.
        val rows = slim.select(col("__id"), col("__h"), col("__r2"), col("__c"))
          .collect()
        val bc = df.sparkSession.sparkContext.broadcast(
          buildCellIndex(rows, onIndexStats))
        pairs = slim.select(col("__id").as("__idb"),
          explode(K.pairsBelowRankDotCell(col("__h"), col("__id"),
            col("__r"), probeCells, bc, maxDistance, minSpearman)).as("__hit"))
        // ContextCleaner reclaims bc with the plan.
      } else {
        // CELL-GROUPED multi-pass (r16): past the byte budget, shards are
        // GROUPS OF WHOLE CELLS (cells sorted by packed key so adjacent
        // duration buckets pack together; a single cell larger than the
        // budget hash-splits into sub-shards), and each pass probes ONLY
        // the rows whose 3×3 neighborhood overlaps that group's cells —
        // the hash-range scheme this replaces made EVERY row probe EVERY
        // shard (at 100M rows / 9 shards: 9 full-corpus probe passes);
        // here a row probes the 1–3 groups its neighborhood touches, so
        // aggregate probe enumerations stay ~O(n) as shards grow. Pair
        // uniqueness carries: a row is INDEXED in exactly one group (its
        // cell lives in one group; within a split cell, one hash
        // sub-shard), every probing row whose neighborhood covers that
        // cell probes that group, and emissions are ids strictly below
        // the prober's own.
        // (cells in group, hash sub-split count, sub-index) per pass —
        // grouping input is the path-choice aggregate collected above.
        val groups = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Int, Int)]
        val curCells = scala.collection.mutable.ArrayBuffer.empty[Long]
        var curRows = 0L
        def flush(): Unit = if (curCells.nonEmpty) {
          groups += ((curCells.toArray, 1, 0))
          curCells.clear()
          curRows = 0L
        }
        cellCounts.foreach { case (cell, cnt) =>
          if (cnt > shardCap) {
            flush()
            val sub = math.max(2L, (cnt * 1.02 / shardCap).ceil.toLong).toInt
            (0 until sub).foreach(j => groups += ((Array(cell), sub, j)))
          } else {
            if (curRows + cnt > shardCap) flush()
            curCells += cell
            curRows += cnt
          }
        }
        flush()
        groups.foreach { case (cells, subSplit, subIdx) =>
          val inCells =
            if (cells.length == 1) col("__c") === lit(cells(0))
            else col("__c").isin(cells.map(java.lang.Long.valueOf): _*)
          val indexSide =
            if (subSplit == 1) slim.where(inCells)
            else slim.where(inCells &&
              pmod(xxhash64(col("__h")), lit(subSplit.toLong)) === subIdx.toLong)
          val rows = indexSide
            .select(col("__id"), col("__h"), col("__r2"), col("__c")).collect()
          if (rows.nonEmpty) { // a hash sub-shard can be empty at small n
            val bc = df.sparkSession.sparkContext.broadcast(
              buildCellIndex(rows, onIndexStats))
            // Probe side: only rows whose neighborhood touches this
            // group's cells — the pass-count lever.
            val pass = slim
              .where(arrays_overlap(probeCells, typedLit(cells.toSeq)))
              .select(col("__id").as("__idb"),
                explode(K.pairsBelowRankDotCell(col("__h"), col("__id"),
                  col("__r"), probeCells, bc, maxDistance, minSpearman))
                  .as("__hit"))
            // Peak reference state = ONE index: materialize the pass,
            // then free this group's executor copies before the next builds.
            val mat = StageCheckpoints.local(pass, eager = true, Dedup.CandLevel)
            bc.unpersist(blocking = false)
            pairs = if (pairs == null) mat else pairs.unionByName(mat)
          }
        }
      }
      if (pairs == null) // unreachable when n > 0; typed-empty for safety
        pairs = slim.limit(0).select(col("__id").as("__idb"),
          explode(K.pairsBelowRankDotCell(col("__h"), col("__id"),
            col("__r"), probeCells,
            df.sparkSession.sparkContext.broadcast(new K.MihCellIndex(
              Array.emptyLongArray, Array.emptyLongArray, 4,
              Array.emptyLongArray, Array.emptyByteArray,
              Array.emptyDoubleArray)), maxDistance, minSpearman)).as("__hit"))
      pairs.select(
        col("__hit.id").cast(df.schema(idCol).dataType).as("id_a"),
        col("__idb").cast(df.schema(idCol).dataType).as("id_b"),
        col("__hit.hamming").as("hamming"),
        col("__hit.spearman").as("spearman"))
    }
  }

  /** One shard's in-memory index for [[videoProfilePairs]]: flatten the
    * collected (id, hash, rank2, cell) rows into the cell-partitioned
    * MIH structure; the quantized rank payload rides along so the
    * Spearman verify runs inside the probe. */
  private def buildCellIndex(rows: Array[Row],
      onIndexStats: (Int, Int, Int) => Unit)
      : graft.functions.HammingIndexKernel.MihCellIndex = {
    val nR = rows.length
    require(nR.toLong * ProfileBuckets <= Int.MaxValue,
      s"rank payload of $nR rows overflows an array — shrink maxIndexBytes")
    val rb = new Array[Byte](ProfileBuckets * nR)
    val inv = new Array[Double](nR)
    val cellKeys = new Array[Long](nR)
    var i = 0
    while (i < nR) {
      val r2 = rows(i).getAs[Array[Byte]](2)
      System.arraycopy(r2, 0, rb, i * ProfileBuckets, ProfileBuckets)
      inv(i) = profileRankInvOf(r2)
      cellKeys(i) = rows(i).getLong(3)
      i += 1
    }
    // pieces=4 (16-bit slices): radius 14 → e=3 flips, 4·ΣC(16,≤3)
    // = 2788 bucket probes covering ~4.3% of the PROBED CELLS per
    // query — with the cell partition that is a per-cell bound,
    // not a corpus one (the r15 quadratic-aggregate fix).
    val idx = new graft.functions.HammingIndexKernel.MihCellIndex(cellKeys,
      rows.map(_.getLong(1)), 4, rows.map(_.getLong(0)), rb, inv)
    if (onIndexStats != null) {
      // Observability for the cell bound: (shard rows, populated
      // cells, largest cell) — scans/probe are O(largest cells),
      // not O(shard rows).
      val (nCells, maxCell) = idx.cellStats
      onIndexStats(nR, nCells, maxCell)
    }
    idx
  }

  /** Driver-known cell-partitioned MIH index over a corpus's re-encode
    * signatures — the build side of
    * [[graft.llm.Dedup.streamVideoProfileGuard]] (r17): one container
    * walk per corpus video yields the signature bits, the quantized rank
    * payload AND the duration×fps cell key (the [[videoProfilePairs]]
    * parse), collected bounded by the SAME byte budget the pair
    * operator's shards obey (`shardRowCap(…, cellTables = 128)` — ~10.2M
    * rows at the 1.2 GB default). Past the bound, shard the corpus into
    * several guards or run the batch [[videoProfilePairs]]. Ids must be
    * numeric (the [[graft.llm.Dedup.pHashIdIndex]] contract — checked
    * loudly, r17 ADVICE); unprofiled corpus videos (not-an-MP4, flat
    * stsz) index nothing. `flatIndex` (r18 — the batch operator's hatch,
    * threaded to the streaming guard): every corpus row indexes the
    * single collapsed cell, so a guard built with it probes corpus-wide
    * (pairs whose fps shifted >2× or duration >~1.5× still flag) at the
    * flat per-probe cost — pass the SAME flag to
    * [[graft.llm.Dedup.streamVideoProfileGuard]]. */
  def videoProfileIndex(corpus: DataFrame, idCol: String, binCol: String,
      maxIndexBytes: Long =
        graft.functions.HammingIndexKernel.DefaultIndexBudgetBytes,
      flatIndex: Boolean = false)
      : graft.functions.HammingIndexKernel.MihCellIndex = {
    val cap = graft.functions.HammingIndexKernel.shardRowCap(maxIndexBytes,
      pieces = 4, hasIds = true, rankLen = ProfileBuckets, cellTables = 128)
    val rows = videoProfileFeatures(corpus, idCol, binCol)
      .where(col("__vphash").isNotNull)
      // try_cast, not cast: a malformed id should surface as THIS
      // contract's error (the null check below), not an ANSI cast throw
      // from inside the plan or an opaque NPE in buildCellIndex's
      // getLong (r17 ADVICE — the pipeline's loud require, mirrored).
      .select(expr(s"try_cast(`$idCol` AS BIGINT)").as("__id"), col("__vphash"),
        col("__vpr2"),
        (if (flatIndex) lit(0L) else col("__vpcell")).as("__vpcell"))
      .limit(math.min(cap, Int.MaxValue - 1L).toInt + 1)
      .collect()
    require(rows.length <= cap,
      s"video-profile corpus exceeds the $maxIndexBytes-byte index budget " +
        s"(~$cap rows) — shard into several guards or use videoProfilePairs")
    require(!rows.exists(_.isNullAt(0)),
      s"videoProfileIndex requires numeric ids: column '$idCol' has a null " +
        "or non-numeric value among the profiled rows — dense-rank ids into " +
        "longs first (the pHashIdIndex contract)")
    buildCellIndex(rows, null)
  }

  /** Buckets in the size-profile signature; also the minimum sample count
    * (fewer than one sample per bucket profiles nothing). */
  private val ProfileBuckets = 64

  /** 64-bit size-profile signature of one MP4 (see
    * [[videoSizeProfileHashes]]), or null when no track carries a
    * per-sample stsz with >= 64 in-bounds samples, or the profile is
    * flat. Reads ONLY the stsz table — no chunk map, no payload — so it
    * tolerates any transform that preserves the coarse bitrate-motion
    * curve, including full re-encodes. Deterministic pure byte/StrictMath
    * arithmetic. */
  private[graft] def videoSizeProfileHashOne(bytes: Array[Byte]): java.lang.Long = {
    val medians = videoBucketMedians(bytes)
    if (medians == null) null else java.lang.Long.valueOf(profileBitsOf(medians))
  }

  /** Fixed pseudo-random bucket pairing for the signature bits: bit k
    * compares medians at buckets (PairA(k), PairB(k)). The naive rule —
    * bit = bucket > the global median — inherits the curve's SMOOTHNESS:
    * adjacent bits run in blocks, 4-bit band slices degenerate to 0x0/0xF
    * for most of the corpus, and both the banded join and an MIH index
    * drown in those buckets. Comparing two pseudo-randomly chosen buckets
    * instead makes the 64 bits near-iid for independent content (cross
    * distances binomial around 32, P(<= 12) ~ 6e-7) while staying a rank
    * statistic: monotone size transforms, GOP absorption and frame-rate
    * resampling all preserve each comparison exactly as before. The
    * pairing is a pure splitmix64 function of a fixed seed — part of the
    * signature definition, identical everywhere. */
  private val (profilePairA, profilePairB) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val a = new Array[Int](ProfileBuckets)
    val b = new Array[Int](ProfileBuckets)
    var k = 0
    while (k < ProfileBuckets) {
      a(k) = ((mix(0x5EEDFACEL + 2 * k) >>> 1) % ProfileBuckets).toInt
      b(k) = ((mix(0x5EEDFACEL + 2 * k + 1) >>> 1) % ProfileBuckets).toInt
      var salt = 1L
      while (b(k) == a(k)) {
        b(k) = ((mix(0x5EEDFACEL + 2 * k + 1 + salt * 131) >>> 1) % ProfileBuckets).toInt
        salt += 1
      }
      k += 1
    }
    (a, b)
  }

  private[graft] def profileBitsOf(medians: Array[Double]): Long = {
    var bits = 0L
    var k = 0
    while (k < ProfileBuckets) {
      if (medians(profilePairA(k)) > medians(profilePairB(k))) bits |= (1L << k)
      k += 1
    }
    bits
  }

  /** The 64 bucket-median frame sizes behind [[videoSizeProfileHashes]],
    * or null on the same conditions (no per-sample stsz with >= 64
    * in-bounds samples, or a flat profile). */
  private[graft] def videoBucketMedians(bytes: Array[Byte]): Array[Double] = {
    val p = videoProfileParse(bytes)
    if (p == null) null else p.medians
  }

  /** Everything the ONE container walk behind the size-profile signature
    * yields: the 64 bucket medians, plus the mdhd presentation duration
    * and the stsz sample count the cell key derives from — so the
    * pre-partition key is free with the profile (no second parse). */
  private[graft] final class ProfileParse(val medians: Array[Double],
    val durSec: Double, val nSamples: Int) extends Serializable

  /** Single-pass parse for the re-encode signature AND its
    * content-compatible cell key, or null on [[videoBucketMedians]]'s
    * null conditions. The walk reads the first trak carrying a
    * per-sample stsz with >= 64 in-bounds samples; the SAME trak's mdhd
    * supplies timescale + duration (0/absent → unknown duration, which
    * [[profileCellOf]] maps to the reserved unknown cell). */
  private[graft] def videoProfileParse(bytes: Array[Byte]): ProfileParse = {
    if (bytes == null || bytes.length < 16) return null
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
      def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
      def boxes(lo: Int, hi: Int): Iterator[(String, Int, Int)] =
        new Iterator[(String, Int, Int)] {
          private var pos = lo
          def hasNext: Boolean = pos + 8 <= hi
          def next(): (String, Int, Int) = {
            val size32 = bb.getInt(pos).toLong & 0xFFFFFFFFL
            val typ = fourcc(pos + 4)
            val (payload, end) =
              if (size32 == 1L && pos + 16 <= hi) {
                val size64 = bb.getLong(pos + 8)
                (pos + 16, pos + math.min(size64, (hi - pos).toLong).toInt)
              } else if (size32 == 0L) (pos + 8, hi)
              else (pos + 8, pos + math.min(size32, (hi - pos).toLong).toInt)
            val safeEnd = math.max(payload, math.min(end, hi))
            pos = if (safeEnd > pos) safeEnd else hi
            (typ, payload, safeEnd)
          }
        }
      var sizes: Array[Long] = null
      var mdhdTs = -1L
      var mdhdDur = -1L
      boxes(0, bytes.length).foreach {
        case ("moov", mp, me) => boxes(mp, me).foreach {
          case ("trak", tp, te) if sizes == null =>
            var tSizes: Array[Long] = null
            var tTs = -1L
            var tDur = -1L
            boxes(tp, te).foreach {
              case ("mdia", dp, de) => boxes(dp, de).foreach {
                case ("mdhd", p, e) if e - p >= 20 =>
                  // v0: ver/flags(4) ctime(4) mtime(4) timescale(4)
                  // duration(4); v1 widens the times and duration to 8.
                  val ver = bytes(p) & 0xFF
                  if (ver == 1 && e - p >= 32) {
                    tTs = bb.getInt(p + 20).toLong & 0xFFFFFFFFL
                    tDur = bb.getLong(p + 24)
                  } else if (ver == 0) {
                    tTs = bb.getInt(p + 12).toLong & 0xFFFFFFFFL
                    tDur = bb.getInt(p + 16).toLong & 0xFFFFFFFFL
                  }
                case ("minf", ip, ie) => boxes(ip, ie).foreach {
                  case ("stbl", sp, se) => boxes(sp, se).foreach {
                    case ("stsz", p, e) if e - p >= 12 =>
                      val uniform = bb.getInt(p + 4).toLong & 0xFFFFFFFFL
                      val cnt = bb.getInt(p + 8).toLong & 0xFFFFFFFFL
                      // Uniform (compact) stsz IS a flat profile — skip
                      // without allocating; the per-sample form gets the
                      // same MaxSamples + bytes-present bounds as
                      // videoHashOne (crafted counts must not allocate).
                      if (uniform == 0L && cnt >= ProfileBuckets &&
                          cnt <= MaxSamples && cnt <= (e - p - 12L) / 4L) {
                        tSizes = new Array[Long](cnt.toInt)
                        var j = 0
                        while (j < cnt.toInt) {
                          tSizes(j) = bb.getInt(p + 12 + 4 * j).toLong & 0xFFFFFFFFL
                          j += 1
                        }
                      }
                    case _ => ()
                  }
                  case _ => ()
                }
                case _ => ()
              }
              case _ => ()
            }
            if (tSizes != null) { sizes = tSizes; mdhdTs = tTs; mdhdDur = tDur }
          case _ => ()
        }
        case _ => ()
      }
      if (sizes == null) return null
      val n = sizes.length
      val medians = new Array[Double](ProfileBuckets)
      var k = 0
      while (k < ProfileBuckets) {
        val lo = (k.toLong * n / ProfileBuckets).toInt
        val hi = ((k + 1).toLong * n / ProfileBuckets).toInt
        val a = java.util.Arrays.copyOfRange(sizes, lo, hi)
        java.util.Arrays.sort(a)
        val m = a.length
        medians(k) =
          if (m % 2 == 1) a(m / 2).toDouble
          else (a(m / 2 - 1) + a(m / 2)) / 2.0
        k += 1
      }
      val sorted = medians.clone()
      java.util.Arrays.sort(sorted)
      if (sorted(0) == sorted(ProfileBuckets - 1)) return null // flat
      val durSec = if (mdhdTs > 0 && mdhdDur > 0) mdhdDur.toDouble / mdhdTs
        else Double.NaN
      new ProfileParse(medians, durSec, n)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Reserved cell for videos whose duration is unknowable (absent/zero
    * mdhd): they index and probe only among themselves. */
  private[graft] val ProfileCellUnknown: Long = Long.MinValue

  /** THE probe neighborhood of a cell key — own (durB, fpsB) ± 1 in each
    * dimension, or just the reserved unknown cell (r17 review: one
    * definition shared by the scalar guard path and any driver-side
    * replay; [[videoProfilePairs]]' column-side `probeCells` builds the
    * same keys as Column arithmetic and the guard≡pair-operator identity
    * test pins the two against each other). */
  private[graft] def profileProbeCellsOf(cell: Long): Array[Long] =
    if (cell == ProfileCellUnknown) Array(cell)
    else {
      val durB = cell >> 32
      val fpsB = (cell << 32) >> 32
      val a = new Array[Long](9)
      var k = 0
      var dd = -1L
      while (dd <= 1L) {
        var ff = -1L
        while (ff <= 1L) {
          a(k) = ((durB + dd) << 32) | ((fpsB + ff) & 0xFFFFFFFFL)
          k += 1
          ff += 1L
        }
        dd += 1L
      }
      a
    }

  /** Content-compatible pre-partition CELL KEY for the re-encode
    * signature (r16, VERDICT #1): `(duration bucket, fps bucket)` packed
    * into one long (`durB << 32 | fpsB & 0xFFFFFFFF`). A re-encode
    * preserves the presentation duration to sub-frame rounding
    * (log-1.5 buckets: same bucket, or adjacent at an edge) and changes
    * fps by at most ~2× in practice (log-2 buckets: at most adjacent —
    * an exact 2× shifts log2 by exactly 1), so probing the 3×3 bucket
    * neighborhood recovers every re-encode pair while independent
    * content spreads across the full duration×fps grid. Both buckets are
    * floor of a StrictMath log — deterministic everywhere. */
  private[graft] def profileCellOf(durSec: Double, nSamples: Int): Long = {
    if (!(durSec > 0) || nSamples <= 0) return ProfileCellUnknown
    val fps = nSamples / durSec
    val durB = StrictMath.floor(
      StrictMath.log(durSec) / StrictMath.log(1.5)).toInt
    val fpsB = StrictMath.floor(
      StrictMath.log(fps) / StrictMath.log(2.0)).toInt
    (durB.toLong << 32) | (fpsB.toLong & 0xFFFFFFFFL)
  }

  /** Zero-mean unit-norm AVERAGE-RANK vector of the 64 bucket medians,
    * or null on [[videoBucketMedians]]'s null conditions. The dot
    * product of two of these IS the Spearman rank correlation of the two
    * size profiles — the exact-verify leg behind the coarse signature
    * bits (monotone-invariant like the bits, but using the full bucket
    * ordering instead of one sign each, so independent smooth curves
    * that collide in a few sign bits still separate cleanly). */
  private[graft] def videoProfileRanks(bytes: Array[Byte]): Array[Double] = {
    val medians = videoBucketMedians(bytes)
    if (medians == null) null else profileRanksOf(medians)
  }

  private def profileRanksOf(medians: Array[Double]): Array[Double] =
    profileRanksOfR2(profileRank2Of(medians))

  /** DOUBLED average ranks of the bucket medians as bytes: avg rank over
    * a tied run is a multiple of 0.5, so 2·rank ∈ {0..126} is EXACT in a
    * byte — the 64-byte quantization the MIH index carries so the
    * Spearman verify can run INSIDE the probe (reconstruction through
    * [[profileRanksOfR2]] reproduces the normalized double vector
    * BIT-IDENTICALLY — same arithmetic, same order). */
  private[graft] def profileRank2Of(medians: Array[Double]): Array[Byte] = {
    val n = ProfileBuckets
    val idx = (0 until n).sortBy(medians(_)).toArray
    val r2 = new Array[Byte](n)
    var i = 0
    while (i < n) {
      // Average rank over the tied run [i, j), doubled: (i + j - 1).
      var j = i + 1
      while (j < n && medians(idx(j)) == medians(idx(i))) j += 1
      var k = i
      while (k < j) { r2(idx(k)) = (i + j - 1).toByte; k += 1 }
      i = j
    }
    r2
  }

  /** Inverse norm of the centered doubled-rank vector — shared by the
    * column reconstruction and the MIH rank payload so every path's
    * normalized values are the SAME doubles. norm2 = 0 only for an
    * all-tied profile, which [[videoBucketMedians]] already nulls as
    * flat. */
  private[graft] def profileRankInvOf(r2: Array[Byte]): Double = {
    val mean = (ProfileBuckets - 1) / 2.0
    var norm2 = 0.0
    var i = 0
    while (i < ProfileBuckets) {
      val v = r2(i) * 0.5 - mean
      norm2 += v * v
      i += 1
    }
    1.0 / StrictMath.sqrt(norm2)
  }

  /** Zero-mean unit-norm rank vector from the doubled-rank bytes —
    * the single reconstruction everyone shares (column pipeline and
    * in-probe verify), so both paths compute Spearman on bit-identical
    * doubles. */
  private[graft] def profileRanksOfR2(r2: Array[Byte]): Array[Double] = {
    val n = ProfileBuckets
    val inv = profileRankInvOf(r2)
    val mean = (n - 1) / 2.0
    val ranks = new Array[Double](n)
    var i = 0
    while (i < n) {
      ranks(i) = (r2(i) * 0.5 - mean) * inv
      i += 1
    }
    ranks
  }

  /** Planted ENCODER MODEL for the size-profile signature's gates: frame
    * sizes for one "encode" of family's content. The content is a smooth
    * bitrate-motion curve — sixteen StrictMath sinusoids (1–16 cycles,
    * amplitudes decaying ~1/√freq like natural motion spectra) with
    * family-derived phases/weights, evaluated at the NORMALIZED frame
    * time, so two encodes at different frame counts sample the same
    * curve. Sixteen components matter at corpus scale: an 8-component
    * model's ~16-dim content space suffers birthday collisions around
    * 10⁵ distinct contents (pairs of families with near-identical
    * curves at ~5·10⁻⁷ — which the signature then CORRECTLY pairs,
    * flooding scale tests with true-but-unplanted near-dups); doubling
    * the dimensionality pushes the collision rate far below any
    * realistic plant density. The curve multiplies the encoder knobs a
    * two-pass re-encode changes:
    * `bitrateScale` (global rate factor), `gop` (a 3× keyframe spike
    * every gop frames — different encoders place keyframes differently),
    * and ±10% per-frame noise from `noiseSeed` (rate-control jitter).
    * Two calls with the same family and different knobs are the planted
    * "same content, independent encode" pair; different families are
    * independent content. Pure function of its arguments. */
  def bitrateProfileFrameSizes(family: Long, nFrames: Int,
      bitrateScale: Double = 1.0, gop: Int = 12, noiseSeed: Long = 0L,
      base: Int = 400): Seq[Int] = {
    require(nFrames >= ProfileBuckets, s"nFrames $nFrames < $ProfileBuckets")
    require(gop >= 1 && bitrateScale > 0 && base >= 32,
      s"bad knobs gop=$gop scale=$bitrateScale base=$base")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(z: Long): Double = mix(z).toDouble / Long.MaxValue // [-1, 1]
    val phases = Array.tabulate(16)(j => unit(family * 31 + j) * StrictMath.PI)
    val weights = Array.tabulate(16) { j =>
      (0.5 + 0.5 * math.abs(unit(family * 37 + 100 + j))) / StrictMath.sqrt(j + 1.0)
    }
    (0 until nFrames).map { i =>
      val t = (i + 0.5) / nFrames
      var c = 1.0
      var j = 0
      while (j < 16) {
        c += 0.22 * weights(j) * StrictMath.sin(2.0 * StrictMath.PI * (j + 1) * t + phases(j))
        j += 1
      }
      val curve = math.max(0.15, c)
      val kf = if (i % gop == 0) 3.0 else 1.0
      val noise = 1.0 + 0.10 * unit(noiseSeed * 0x517CC1B727220A95L + family * 131 + i)
      math.max(16, math.min(65536,
        (base * bitrateScale * curve * kf * noise).round.toInt))
    }
  }

  /** Encode an MP4 WITH media payload — the video-fingerprint sibling of
    * [[encodeToneWav]]/[[encodeBlockImage]]: ftyp + moov (mvhd + one
    * trak with tkhd + mdia(mdhd + minf(stbl(stsd + stsz + stsc + stco))))
    * + an mdat whose coded frame bytes are a pure splitmix64 function of
    * (family, frame index), so generated corpora are oracle-checkable and
    * copies are plantable by construction:
    *   - same family, different `chunkSamples` split / `timescale` =
    *     a RE-MUXED copy — identical payload stream, different container
    *     layout, [[videoHashOne]]-identical;
    *   - same family with `alteredFrames` = a splice copy — those frames'
    *     payloads come from an independent stream, moving only their
    *     sampled nibbles (≤ 4 bits per sampled frame);
    *   - different family = independent content (~32 bits apart).
    * stco offsets are REAL file offsets into the mdat (computed from the
    * assembled header length — entry counts fix the length, so a single
    * second pass patches them exactly). */
  def encodeMp4Media(family: Long, frameSizes: Seq[Int],
      chunkSamples: Seq[Int], timescale: Int = 600,
      width: Int = 320, height: Int = 240, codec: String = "avc1",
      alteredFrames: Set[Int] = Set.empty,
      useCo64: Boolean = false,
      durationUnits: Long = -1L): Array[Byte] = {
    require(frameSizes.nonEmpty && frameSizes.forall(s => s >= 0 && s <= 65536),
      s"frameSizes must be non-empty, each in [0, 65536]")
    // Total, not just per-frame: a long frame list would otherwise wrap the
    // mdat length Int silently (NegativeArraySizeException instead of a
    // named failure — r14 ADVICE). 1 MB of header slack is far above the
    // assembled moov's real size.
    require(frameSizes.map(_.toLong).sum <= Int.MaxValue.toLong - (1 << 20),
      s"total media payload ${frameSizes.map(_.toLong).sum} bytes exceeds a " +
        "single-array MP4 (Int.MaxValue minus header slack)")
    require(chunkSamples.nonEmpty && chunkSamples.forall(_ >= 1) &&
      chunkSamples.sum == frameSizes.length,
      s"chunkSamples ${chunkSamples} must partition ${frameSizes.length} samples")
    require(codec != null && codec.length == 4, s"bad fourcc '$codec'")
    require(timescale > 0, s"bad timescale $timescale")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      b.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val nFrames = frameSizes.length
    // Default keeps the legacy 20-units-per-frame clock (30 fps at the
    // default 600 timescale). A REALISTIC re-mux or frame-rate change
    // preserves the PRESENTATION duration while the timescale / frame
    // count changes, so such plants pass `durationUnits` explicitly
    // (durSec·timescale) instead of inheriting a clock tied to nFrames.
    val durUnits: Int = {
      val d = if (durationUnits >= 0) durationUnits else nFrames.toLong * 20L
      require(d <= Int.MaxValue, s"durationUnits $d exceeds the v0 mdhd field")
      d.toInt
    }
    def header(chunkOffsets: Seq[Int]): Array[Byte] = {
      val ftyp = box("ftyp", {
        val b = java.nio.ByteBuffer.allocate(16)
        b.put("isom".getBytes("US-ASCII")).putInt(512)
          .put("isom".getBytes("US-ASCII")).put("mp41".getBytes("US-ASCII"))
        b.array()
      })
      val mvhd = box("mvhd", {
        val b = java.nio.ByteBuffer.allocate(100)
        b.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(durUnits)
        b.putInt(0x00010000).putShort(0x0100.toShort).position(b.position() + 10)
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
        b.position(b.position() + 24)
        b.putInt(2)
        b.array()
      })
      val tkhd = box("tkhd", {
        val b = java.nio.ByteBuffer.allocate(84)
        b.putInt(0).putInt(0).putInt(0).putInt(1).putInt(0).putInt(durUnits)
        b.position(b.position() + 8)
        b.putShort(0).putShort(0).putShort(0).putShort(0)
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
        b.putInt(width << 16).putInt(height << 16)
        b.array()
      })
      val mdhd = box("mdhd", {
        val b = java.nio.ByteBuffer.allocate(24)
        b.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(durUnits).putInt(0)
        b.array()
      })
      val stsd = box("stsd", {
        val b = java.nio.ByteBuffer.allocate(8 + 16)
        b.putInt(0).putInt(1).putInt(16).put(codec.getBytes("US-ASCII"))
        b.array()
      })
      val stsz = box("stsz", {
        val uniform = frameSizes.distinct.length == 1
        val b = java.nio.ByteBuffer.allocate(12 + (if (uniform) 0 else 4 * nFrames))
        b.putInt(0).putInt(if (uniform) frameSizes.head else 0).putInt(nFrames)
        if (!uniform) frameSizes.foreach(b.putInt)
        b.array()
      })
      val stsc = box("stsc", {
        val runs = chunkSamples.zipWithIndex.foldLeft(List.empty[(Int, Int)]) {
          case (acc @ ((_, spc) :: _), (v, _)) if spc == v => acc
          case (acc, (v, i)) => (i + 1, v) :: acc
        }.reverse
        val b = java.nio.ByteBuffer.allocate(8 + 12 * runs.length)
        b.putInt(0).putInt(runs.length)
        runs.foreach { case (first, spc) => b.putInt(first).putInt(spc).putInt(1) }
        b.array()
      })
      // useCo64 exercises the 64-bit chunk-offset table (files past
      // 4 GiB use co64 in the wild; the parse path deserves a plantable
      // twin) — offsets here still fit an int, the WIDTH is the point.
      val stco =
        if (useCo64) box("co64", {
          val b = java.nio.ByteBuffer.allocate(8 + 8 * chunkOffsets.length)
          b.putInt(0).putInt(chunkOffsets.length)
          chunkOffsets.foreach(o => b.putLong(o.toLong))
          b.array()
        })
        else box("stco", {
          val b = java.nio.ByteBuffer.allocate(8 + 4 * chunkOffsets.length)
          b.putInt(0).putInt(chunkOffsets.length)
          chunkOffsets.foreach(b.putInt)
          b.array()
        })
      val trak = box("trak", tkhd ++ box("mdia",
        mdhd ++ box("minf", box("stbl", stsd ++ stsz ++ stsc ++ stco))))
      ftyp ++ box("moov", mvhd ++ trak)
    }
    // Pass 1 with zeroed offsets fixes the header length (entry counts,
    // not values, determine it); pass 2 writes the real mdat offsets.
    val headerLen = header(Seq.fill(chunkSamples.length)(0)).length
    val mdatPayloadStart = headerLen + 8
    val chunkOffsets = chunkSamples.scanLeft(0) { (acc, spc) => acc + spc }
      .dropRight(1)
      .map { firstSample =>
        mdatPayloadStart + frameSizes.take(firstSample).map(_.toLong).sum.toInt
      }
    val mdat = new Array[Byte](frameSizes.map(_.toLong).sum.toInt)
    var pos = 0
    frameSizes.zipWithIndex.foreach { case (sz, i) =>
      val seed = mix(family * 0x100000001B3L + i +
        (if (alteredFrames.contains(i)) 0x517CC1B727220A95L else 0L))
      var j = 0
      var z = seed
      while (j < sz) {
        if (j % 8 == 0) z = mix(z + j)
        mdat(pos + j) = (z >>> ((j % 8) * 8)).toByte
        j += 1
      }
      pos += sz
    }
    header(chunkOffsets) ++ box("mdat", mdat)
  }

  // ------------------------------------------------------ codec expression

  /** Sketch kinds [[mediaSketch64]] dispatches on — each is one of the
    * per-row 64-bit signature kernels. */
  private[graft] val Sketch64Kinds: Set[String] =
    Set("phash", "audio_energy", "audio_spectral", "video_payload", "video_profile")

  /** Per-row dispatcher behind the sketch codecs. */
  def sketch64Of(bytes: Array[Byte], kind: String): java.lang.Long = kind match {
    case "phash" => pHashOne(bytes)
    case "audio_energy" => audioHashOne(bytes)
    case "audio_spectral" => audioSpectralHashOne(bytes)
    case "video_payload" => videoHashOne(bytes)
    case "video_profile" => videoSizeProfileHashOne(bytes)
    case other => throw new IllegalArgumentException(s"unknown sketch kind '$other'")
  }

  /** The re-encode features of one MP4 ([[videoProfilePairs]],
    * [[videoProfileIndex]]): signature bits, the zero-mean unit-norm rank
    * vector, its doubled-rank bytes and the duration×fps cell key, all
    * from one [[videoProfileParse]]. */
  private[graft] val VideoProfileFeatureType: StructType = StructType(Seq(
    StructField("bits", LongType),
    StructField("ranks", ArrayType(DoubleType, containsNull = false)),
    StructField("r2", BinaryType),
    StructField("cell", LongType)))

  /** One per-row media kernel and the Spark type of its result: applied
    * to payload bytes it returns that result in Catalyst's internal form,
    * or null when the bytes do not decode. [[MediaCodec]] runs any of
    * them; the kind alone fixes the output type. */
  sealed abstract class Codec(val name: String, val dataType: DataType)
      extends (Array[Byte] => Any) with Product with Serializable {
    override def toString: String = scala.runtime.ScalaRunTime._toString(this)
  }

  private[graft] final case class Sketch64(kind: String)
      extends Codec(s"sketch64_$kind", LongType) {
    require(Sketch64Kinds.contains(kind),
      s"unknown sketch kind '$kind' (one of ${Sketch64Kinds.toSeq.sorted.mkString(", ")})")
    def apply(bytes: Array[Byte]): Any = sketch64Of(bytes, kind)
  }

  /** A kernel that returns an external `Row`, converted for Catalyst. */
  private[graft] sealed abstract class StructCodec(name: String, schema: StructType)
      extends Codec(name, schema) {
    protected def kernel(bytes: Array[Byte]): Row
    @transient private lazy val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(schema)
    def apply(bytes: Array[Byte]): Any = {
      val row = kernel(bytes)
      if (row == null) null else toCatalyst(row)
    }
  }

  private[graft] case object ImageDecode extends StructCodec("image_decode", DecodedImageType) {
    protected def kernel(bytes: Array[Byte]): Row = decodeOne(bytes)
  }
  private[graft] case object AudioDecode extends StructCodec("audio_decode", DecodedAudioType) {
    protected def kernel(bytes: Array[Byte]): Row = decodeAudioOne(bytes)
  }
  private[graft] case object Mp4MetaDecode extends StructCodec("mp4_meta", DecodedVideoType) {
    protected def kernel(bytes: Array[Byte]): Row = parseMp4Meta(bytes)
  }

  private[graft] final case class ImageResize(targetW: Int, targetH: Int, format: String)
      extends Codec("image_resize", BinaryType) {
    require(targetW > 0 && targetH > 0, s"bad target dims ${targetW}x$targetH")
    def apply(bytes: Array[Byte]): Any = resizeOne(bytes, targetW, targetH, format)
  }

  private[graft] case object VideoProfileFeatures
      extends Codec("video_profile_features", VideoProfileFeatureType) {
    def apply(bytes: Array[Byte]): Any = {
      val p = videoProfileParse(bytes)
      if (p == null) null
      else {
        val r2 = profileRank2Of(p.medians)
        InternalRow(profileBitsOf(p.medians),
          ArrayData.toArrayData(profileRanksOfR2(r2)), r2,
          profileCellOf(p.durSec, p.nSamples))
      }
    }
  }

  /** Every per-row media kernel as one scalar Catalyst expression: binary
    * payload in, the codec's type out, null for null or undecodable
    * bytes. A pure projection, so the same column runs in batch plans and
    * in Structured Streaming (the stream guards use it), inside
    * whole-stage codegen.
    *
    * Declared non-deterministic to the optimizer, as
    * `udf(...).asNondeterministic()` is, although the kernels are pure:
    * a deterministic alias is copied by `PushPredicateThroughNonJoin` into
    * any filter above it (`withColumn(h, codec).where(h.isNotNull)` would
    * plan the codec twice and decode every surviving row twice), and
    * `CollapseProject` may inline it into each consumer. Non-deterministic
    * expressions are never duplicated, so each row runs its kernel once. */
  case class MediaCodec(child: Expression, codec: Codec) extends UnaryExpression {
    override def prettyName: String = s"graft_media_${codec.name}"
    override def dataType: DataType = codec.dataType
    override def nullable: Boolean = true // undecodable bytes -> null
    override lazy val deterministic: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects binary, got ${other.simpleString}")
    }
    override def eval(input: InternalRow): Any = {
      val b = child.eval(input)
      if (b == null) null else codec(b.asInstanceOf[Array[Byte]])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val codecRef = ctx.addReferenceObj("codec", codec, "scala.Function1")
      val childGen = child.genCode(ctx)
      val res = ctx.freshName("codecResult")
      val code = code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${childGen.isNull}) {
          Object $res = $codecRef.apply(${childGen.value});
          if ($res != null) {
            ${ev.isNull} = false;
            ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $res;
          }
        }"""
      ev.copy(code = code)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  private def mediaCodec(bin: Column, codec: Codec): Column =
    GraftSql.column(MediaCodec(GraftSql.expression(bin), codec))

  /** One of the five 64-bit sketches ([[Sketch64Kinds]]) as a column. */
  def mediaSketch64(bin: Column, kind: String): Column = mediaCodec(bin, Sketch64(kind))

  /** `(idCol, __vphash, __vpranks, __vpr2, __vpcell)`: the
    * [[VideoProfileFeatures]] of every row, all null for unprofiled bytes. */
  private[graft] def videoProfileFeatures(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    val f = col("__vp")
    df.select(col(idCol), mediaCodec(col(binCol), VideoProfileFeatures).as("__vp"))
      .select(col(idCol), f("bits").as("__vphash"), f("ranks").as("__vpranks"),
        f("r2").as("__vpr2"), f("cell").as("__vpcell"))
  }

  /** Per-row VERIFIED re-encode probe behind [[VideoProfileVerifiedBc]]
    * (r17) — public-static so generated code can call it. One container
    * walk yields the signature bits, the rank vector AND the cell key
    * (exactly the [[videoProfilePairs]] feature parse), then the
    * broadcast cell index runs the SAME candidate expansion + exact XOR
    * + exact Spearman dot as the batch pair probe over the same 3×3
    * duration×fps neighborhood, early-out on the first verified hit —
    * so a streaming flag is precisely "the batch pair operator would
    * emit this row against some corpus row", no candidate-only wide
    * radius left to re-verify downstream (the r16 profile guard's gap).
    * Null when the bytes don't profile (not-an-MP4, < 64 samples, flat
    * stsz) — guards pass those unflagged. */
  def profileVerifiedHitOf(bytes: Array[Byte],
      idx: graft.functions.HammingIndexKernel.MihCellIndex,
      maxDistance: Int, minSpearman: Double,
      flatIndex: Boolean): java.lang.Boolean = {
    val p = videoProfileParse(bytes)
    if (p == null) return null
    val cell = profileCellOf(p.durSec, p.nSamples)
    // Shared neighborhood definition — same packed keys as the column
    // side's probeCells, bit-for-bit (pinned by the guard≡pair test).
    // The flat hatch probes the single collapsed cell every flat-built
    // index row lives in (the batch operator's flatIndex arm, r18).
    val cells = if (flatIndex) FlatProbeCells else profileProbeCellsOf(cell)
    java.lang.Boolean.valueOf(idx.anyVerifiedWithin(cells,
      profileBitsOf(p.medians), maxDistance,
      profileRanksOfR2(profileRank2Of(p.medians)), minSpearman))
  }

  private val FlatProbeCells: Array[Long] = Array(0L)

  /** STREAMING-SAFE verified video re-encode guard expression (r17):
    * binary payload in, boolean "a corpus video within the signature
    * radius ALSO passes the exact Spearman verify" out — one stateless
    * scalar projection riding a broadcast [[videoProfileIndex]] handle,
    * dispatching to [[profileVerifiedHitOf]] in both the interpreted and
    * generated paths. */
  case class VideoProfileVerifiedBc(child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.HammingIndexKernel.MihCellIndex],
      maxDistance: Int, minSpearman: Double,
      flatIndex: Boolean = false) extends UnaryExpression {
    require(maxDistance >= 0 && maxDistance < 64,
      s"maxDistance must be in [0, 64), got $maxDistance")
    // Spliced into generated Java via raw long bits, but fail a
    // non-finite threshold at construction anyway (the r15 ADVICE rule).
    require(java.lang.Double.isFinite(minSpearman),
      s"minSpearman must be finite, got $minSpearman")
    override def prettyName: String = "graft_video_profile_verified_bc"
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true // unprofiled bytes -> null
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects binary, got ${other.simpleString}")
    }
    @transient private lazy val idx = bc.value
    override def eval(input: InternalRow): Any = {
      val b = child.eval(input)
      if (b == null) null
      else profileVerifiedHitOf(b.asInstanceOf[Array[Byte]], idx,
        maxDistance, minSpearman, flatIndex)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val idxCls = "graft.functions.HammingIndexKernel.MihCellIndex"
      val bcRef = ctx.addReferenceObj("profileBc", bc,
        "org.apache.spark.broadcast.Broadcast")
      val idxTerm = ctx.addMutableState(idxCls, "profileIdx",
        v => s"$v = ($idxCls) $bcRef.value();")
      val minDotBits = java.lang.Double.doubleToLongBits(minSpearman)
      val childGen = child.genCode(ctx)
      val boxed = ctx.freshName("verifiedBoxed")
      val code = code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;
        if (!${childGen.isNull}) {
          java.lang.Boolean $boxed = graft.llm.Multimodal.profileVerifiedHitOf(
            ${childGen.value}, $idxTerm, $maxDistance,
            Double.longBitsToDouble(${minDotBits}L), $flatIndex);
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.booleanValue(); }
        }"""
      ev.copy(code = code)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Column form of [[VideoProfileVerifiedBc]]. */
  def videoProfileVerified(bin: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.HammingIndexKernel.MihCellIndex],
      maxDistance: Int, minSpearman: Double,
      flatIndex: Boolean = false): Column =
    GraftSql.column(VideoProfileVerifiedBc(GraftSql.expression(bin), bc,
      maxDistance, minSpearman, flatIndex))
}
