package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque BinaryType + typed metadata.
  *
  * The Spark-side contract is real and tested — schema, partition-friendly
  * batch shapes, deterministic feature derivation. IMAGES decode for real:
  * the JDK ships `javax.imageio` (PNG/JPEG/BMP/GIF), so [[decodeImageStats]]
  * produces genuine per-pixel statistics with zero new dependencies, and
  * [[encodePng]] generates real fixtures in-cluster. AUDIO decodes for real
  * too: `javax.sound.sampled` reads WAV/PCM ([[decodeAudioStats]], fixtures
  * from [[encodeWavSaw]]). VIDEO decodes for real for UNCOMPRESSED streams:
  * [[decodeVideoStats]] is a hand-rolled RIFF/AVI chunk-tree parser over
  * BI_RGB 24-bit DIB frames (the JDK has no video *codec*, but uncompressed
  * AVI needs none). Compressed codecs (H.264 etc.) remain out of scope —
  * payloads with `biCompression != 0` return null; swap in a JNI codec or a
  * Pandas UDF via mapInPandas without touching the pipeline shape.
  */
object Multimodal {

  /** decoded per-image statistics: dimensions + per-channel pixel means */
  final case class ImageStats(width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL image decode (javax.imageio — pure JVM): width/height and exact
    * per-channel means over all pixels. Null for undecodable payloads
    * (decode failures are data, not errors — same __error__ philosophy as
    * the LogQL parse stages). A Scala UDF is the right tool here: the work
    * is a per-row imperative decode loop over a binary blob, not an
    * expression Catalyst could optimize through; the surrounding pipeline
    * (projection, partitioning) stays Column algebra.
    */
  val decodeImageStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) None
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          Some(ImageStats(w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
        }
      } catch { case _: Exception => None }
    })

  /** REAL PNG encode (fixture generator): a width×height image whose top
    * half is `topRgb` and bottom half `botRgb` (packed 0xRRGGBB). PNG is
    * lossless, so decode→stats recovers the exact construction — which is
    * what lets a SQL oracle predict pixel means from the generating
    * parameters alone.
    */
  val encodePng: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((w: Int, h: Int, topRgb: Int, botRgb: Int) => {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val c = if (y < h / 2) topRgb else botRgb
        var x = 0
        while (x < w) { img.setRGB(x, y, c); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    })

  /** REAL PNG encode (fixture generator) of a COLUMN-GRADIENT image:
    * every pixel of column x carries gray `(seed·(x+1)) mod 256` in all
    * three channels. Per-column variation is exactly what a difference
    * hash reads, and the lossless round-trip lets a SQL oracle predict
    * the perceptual hash from (w, seed) alone.
    */
  val encodePngColGrad: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((w: Int, h: Int, seed: Int) => {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        val g = (seed.toLong * (x + 1) % 256).toInt
        val c = (g << 16) | (g << 8) | g
        var y = 0
        while (y < h) { img.setRGB(x, y, c); y += 1 }
        x += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    })

  /** Perceptual difference hash — dHash (classic public technique: resize
    * to 9×8 grayscale, hash the horizontal brightness differences). The
    * downsample is a DETERMINISTIC nearest-neighbor grid (`src = i·dim/9`
    * integer arithmetic — never the platform's Image scaler, whose
    * filtering is implementation-defined), luma is integer per-mille
    * (299/587/114), and the 64 bits emit as 16 hex chars (row-major;
    * bit x of row y = lum(x+1, y) > lum(x, y), LSB-first per row byte) —
    * every step replayable by an external engine. Identical-looking
    * images collide regardless of their byte encoding; null for
    * undecodable payloads.
    */
  val dHash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) None
      else try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          def lum(px: Int): Int = {
            val r = (px >> 16) & 0xff; val g = (px >> 8) & 0xff
            val b = px & 0xff
            (r * 299 + g * 587 + b * 114) / 1000
          }
          val sb = new java.lang.StringBuilder(16)
          var y = 0
          while (y < 8) {
            val sy = y * h / 8
            var bv = 0
            var x = 0
            while (x < 8) {
              val a = lum(img.getRGB(x * w / 9, sy))
              val b = lum(img.getRGB((x + 1) * w / 9, sy))
              if (b > a) bv |= (1 << x)
              x += 1
            }
            sb.append(f"$bv%02x")
            y += 1
          }
          Some(sb.toString)
        }
      } catch { case _: Exception => None }
    })

  /** decoded per-clip audio statistics. `sum_sq` stays an EXACT Long so an
    * external oracle replays RMS/energy bit-for-bit from integers (the
    * decode loop's float order never enters the result).
    */
  final case class AudioStats(sample_rate: Int, channels: Int, bits: Int,
      n_samples: Long, sum_sq: Long, peak: Int)

  /** REAL audio decode (javax.sound.sampled — pure JVM, WAV/PCM): format
    * header + per-sample integer statistics over 16-bit PCM frames.
    * Mirrors [[decodeImageStats]]: null for undecodable payloads, Scala
    * UDF because the work is an imperative per-row loop over a blob.
    * Multi-channel clips aggregate over interleaved samples.
    */
  val decodeAudioStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val data = ais.readAllBytes()
          val n = data.length / 2
          var sumSq = 0L; var peak = 0; var i = 0
          while (i < n) {
            val v =
              if (fmt.isBigEndian) (data(2 * i) << 8) | (data(2 * i + 1) & 0xff)
              else (data(2 * i + 1) << 8) | (data(2 * i) & 0xff)
            sumSq += v.toLong * v
            val a = math.abs(v); if (a > peak) peak = a
            i += 1
          }
          Some(AudioStats(fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, n.toLong, sumSq, peak))
        }
      } catch { case _: Exception => None }
    })

  /** [[decodeAudioFingerprint]]'s window count */
  val AudioFpWindows = 8

  final case class AudioFp(n_samples: Long, peak: Int, windows: Seq[Long])

  /** Audio fingerprint for dedup: the clip's 16-bit PCM samples split
    * into [[AudioFpWindows]] equal windows (floor boundaries — window w
    * covers sample indexes [w·n/W, (w+1)·n/W)) and each window's Σ|s_i|
    * taken as an exact Long. This is the integer-exact analog of the
    * per-band energy contour production audio fingerprints use —
    * time-domain energies instead of spectral bands, so a SQL oracle can
    * replay every value from the fixture's generating integers (lossless
    * PCM decode recovers the exact samples). Identical waveforms map to
    * identical fingerprints; null for undecodable / non-16-bit payloads.
    */
  val decodeAudioFingerprint: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      if (bytes == null) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val data = ais.readAllBytes()
          val n = data.length / 2
          val w = new Array[Long](AudioFpWindows)
          var peak = 0
          var i = 0
          while (i < n) {
            val v =
              if (fmt.isBigEndian) (data(2 * i) << 8) | (data(2 * i + 1) & 0xff)
              else (data(2 * i + 1) << 8) | (data(2 * i) & 0xff)
            val a = math.abs(v)
            if (a > peak) peak = a
            // floor-boundary window index: i in [w·n/W, (w+1)·n/W) ⇔
            // w = floor(i·W/n)
            w((i.toLong * AudioFpWindows / n).toInt) += a
            i += 1
          }
          Some(AudioFp(n.toLong, peak, w.toSeq))
        }
      } catch { case _: Exception => None }
    })

  /** REAL WAV encode (fixture generator, the audio twin of [[encodePng]]):
    * 16-bit PCM mono whose samples follow the pure-INTEGER sawtooth
    * `s_i = ((i·step) mod (2·amplitude+1)) − amplitude`. WAV is lossless
    * PCM, so decode recovers exactly these integers — and because the
    * waveform is integer arithmetic (no sin/float), a SQL oracle predicts
    * every decoded statistic from (sampleRate, nSamples, amplitude, step)
    * alone, exactly.
    */
  val encodeWavSaw: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((sampleRate: Int, nSamples: Int, amplitude: Int, step: Int) => {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val v = ((i.toLong * step) % (2L * amplitude + 1) - amplitude).toInt
        pcm(2 * i) = (v & 0xff).toByte // little-endian PCM16
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    })

  /** decoded per-clip video statistics. Channel sums stay EXACT Longs (the
    * video twin of [[AudioStats]].sum_sq) so an external oracle replays
    * per-frame/per-channel means bit-for-bit from integers.
    */
  final case class VideoStats(width: Int, height: Int, bit_count: Int,
      n_frames: Int, us_per_frame: Int, frames_read: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** per-frame decode: exact (Σr, Σg, Σb) of EACH frame in stream order —
    * the data a frame-level fingerprint needs; [[VideoStats]] is its fold
    */
  final case class VideoFrames(width: Int, height: Int, bit_count: Int,
      n_frames: Int, us_per_frame: Int,
      frame_r: Seq[Long], frame_g: Seq[Long], frame_b: Seq[Long])

  /** REAL video decode — a hand-rolled RIFF/AVI container parser for
    * uncompressed DIB (BI_RGB 24-bit) frames, pure JVM. The JDK ships no
    * video *codec*, but uncompressed AVI needs none: the container is a
    * RIFF chunk tree (`RIFF('AVI ' LIST('hdrl' avih …) LIST('movi'
    * '00db'…))`, per the public AVI RIFF spec) and each `00db` frame is a
    * bottom-up BGR DIB with 4-byte-aligned rows. The parser walks the
    * chunk tree generically (even-size padding, nested LISTs, `##db`/`##dc`
    * frame chunks, top-down negative-height DIBs) and folds exact integer
    * channel sums over every frame. Motion-JPEG streams (biCompression ==
    * 'MJPG') decode too: each frame chunk is a standalone JPEG, which
    * `javax.imageio` reads — the one compressed video codec the JDK can
    * handle without native code. Other compressed codecs (H.264 etc.)
    * return null — decode failures are data, not errors.
    */
  /** 'MJPG' as the little-endian BITMAPINFOHEADER.biCompression DWORD */
  val MjpgFourcc: Int = 0x47504A4D

  def parseAviFrames(bytes: Array[Byte]): Option[VideoFrames] = {
      if (bytes == null || bytes.length < 12) None
      else try {
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def fourcc(off: Int): String =
          new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") None
        else {
          var width = 0; var height = 0; var bitCount = 0; var comp = -1
          var nFrames = 0; var usPerFrame = 0
          val fr = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          // walk [from, until) as a sequence of RIFF chunks (8-byte header,
          // even-size padding); LISTs recurse past their 4-byte list type.
          // Depth is bounded: real AVI nests ~3 deep, and a crafted chain of
          // LIST headers must not turn into a StackOverflowError (an Error,
          // which the totality catch below would not absorb).
          def walk(from: Int, until: Int, depth: Int): Unit = {
            if (depth > 16) return
            var off = from
            while (off + 8 <= until) {
              val id = fourcc(off)
              val size = bb.getInt(off + 4)
              if (size < 0 || off + 8 + size > until) return // truncated
              val body = off + 8
              if (id == "LIST" || id == "RIFF") walk(body + 4, body + size, depth + 1)
              else if (id == "avih" && size >= 40) {
                usPerFrame = bb.getInt(body)
                nFrames = bb.getInt(body + 16)
                width = bb.getInt(body + 32); height = bb.getInt(body + 36)
              } else if (id == "strf" && size >= 40 && comp < 0) {
                // BITMAPINFOHEADER of the first (video) stream
                bitCount = bb.getShort(body + 14) & 0xffff
                comp = bb.getInt(body + 16)
                if (width == 0) width = bb.getInt(body + 4)
                if (height == 0) height = math.abs(bb.getInt(body + 8))
              } else if (id.length == 4 && id(2) == 'd' &&
                  (id(3) == 'b' || id(3) == 'c') &&
                  Character.isDigit(id(0)) && Character.isDigit(id(1))) {
                // '##db'/'##dc' frame chunk: rows 4-byte aligned; bottom-up
                // vs top-down DIB order is irrelevant to channel sums
                val rowBytes = (width * 3 + 3) / 4 * 4
                if (comp == 0 && bitCount == 24 && size >= rowBytes * height) {
                  var sr = 0L; var sg = 0L; var sb = 0L
                  var y = 0
                  while (y < height) {
                    var x = 0
                    val row = body + y * rowBytes
                    while (x < width) {
                      val p = row + x * 3 // DIB pixel order is B,G,R
                      sb += bytes(p) & 0xff
                      sg += bytes(p + 1) & 0xff
                      sr += bytes(p + 2) & 0xff
                      x += 1
                    }
                    y += 1
                  }
                  fr += ((sr, sg, sb))
                } else if (comp == MjpgFourcc && size > 0) {
                  // MJPG frame = standalone JPEG (JFIF); each decodes
                  // independently — no inter-frame state
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(bytes, body, size))
                  if (img != null) {
                    var sr = 0L; var sg = 0L; var sb = 0L
                    val fw = img.getWidth; val fh = img.getHeight
                    var y = 0
                    while (y < fh) {
                      var x = 0
                      while (x < fw) {
                        val p = img.getRGB(x, y)
                        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff
                        sb += p & 0xff
                        x += 1
                      }
                      y += 1
                    }
                    fr += ((sr, sg, sb))
                  }
                }
              }
              off = body + size + (size & 1) // chunks pad to even offsets
            }
          }
          walk(12, math.min(bytes.length, 8 + bb.getInt(4)), 0)
          // unsupported codecs / bpp never read a frame, so one test covers
          // truncated containers and out-of-scope compression alike
          if (fr.isEmpty) None
          else Some(VideoFrames(width, height, bitCount, nFrames, usPerFrame,
            fr.map(_._1).toSeq, fr.map(_._2).toSeq, fr.map(_._3).toSeq))
        }
      } catch { case _: Exception => None }
  }

  def parseAvi(bytes: Array[Byte]): Option[VideoStats] =
    parseAviFrames(bytes).map { v =>
      VideoStats(v.width, v.height, v.bit_count, v.n_frames, v.us_per_frame,
        v.frame_r.length, v.frame_r.sum, v.frame_g.sum, v.frame_b.sum)
    }

  val decodeVideoStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(parseAvi _)

  /** per-frame decode as a column ([[parseAviFrames]]) — feeds the
    * frame-contour video fingerprint in [[graft.queries.PipelineQueries]]
    */
  val decodeVideoFrames: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(parseAviFrames _)

  /** REAL AVI encode (fixture generator, the video twin of [[encodePng]] /
    * [[encodeWavSaw]]): an uncompressed 24-bit DIB AVI where frame f is the
    * solid color `((r0+f·rs) mod 256, (g0+f·gs) mod 256, (b0+f·bs) mod
    * 256)`. Uncompressed DIB is lossless, so decode recovers exactly these
    * integers — and because the ramp is integer arithmetic, a SQL oracle
    * predicts every decoded statistic (frame count, exact channel sums)
    * from the generating parameters alone.
    */
  def aviRamp(w: Int, h: Int, nFrames: Int, usPerFrame: Int,
      r0: Int, rs: Int, g0: Int, gs: Int, b0: Int, bs: Int): Array[Byte] = {
      val rowBytes = (w * 3 + 3) / 4 * 4
      val frameSize = rowBytes * h // multiple of 4, always even
      val bos = new java.io.ByteArrayOutputStream()
      def dw(v: Int): Unit = { // DWORD, little-endian
        bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
        bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
      }
      def cc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
      val strlSize = 4 + (8 + 56) + (8 + 40)          // 'strl' + strh + strf
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)    // 'hdrl' + avih + LIST strl
      val moviSize = 4 + nFrames * (8 + frameSize)
      cc("RIFF"); dw(4 + (8 + hdrlSize) + (8 + moviSize)); cc("AVI ")
      cc("LIST"); dw(hdrlSize); cc("hdrl")
      // MainAVIHeader: µs/frame, maxBytesPerSec, padding, flags, totalFrames,
      // initialFrames, streams, suggestedBufSize, width, height, reserved[4]
      cc("avih"); dw(56)
      dw(usPerFrame); dw(0); dw(0); dw(0); dw(nFrames)
      dw(0); dw(1); dw(frameSize); dw(w); dw(h); dw(0); dw(0); dw(0); dw(0)
      cc("LIST"); dw(strlSize); cc("strl")
      // AVIStreamHeader: 'vids'/'DIB ', flags, prio+lang, initialFrames,
      // scale, rate, start, length, bufSize, quality, sampleSize, rcFrame
      cc("strh"); dw(56)
      cc("vids"); cc("DIB "); dw(0); dw(0); dw(0)
      dw(usPerFrame); dw(1000000); dw(0); dw(nFrames)
      dw(frameSize); dw(-1); dw(0); dw(0); dw(0)
      // BITMAPINFOHEADER: size, w, h, planes+bpp, BI_RGB, sizeImage, rest 0
      cc("strf"); dw(40)
      dw(40); dw(w); dw(h); dw(1 | (24 << 16)); dw(0); dw(frameSize)
      dw(0); dw(0); dw(0); dw(0)
      cc("LIST"); dw(moviSize); cc("movi")
      val row = new Array[Byte](rowBytes)
      var f = 0
      while (f < nFrames) {
        cc("00db"); dw(frameSize)
        val r = (r0 + f * rs) % 256; val g = (g0 + f * gs) % 256
        val b = (b0 + f * bs) % 256
        var x = 0
        while (x < w) { // DIB pixel order B,G,R; pad bytes stay zero
          row(x * 3) = b.toByte; row(x * 3 + 1) = g.toByte
          row(x * 3 + 2) = r.toByte
          x += 1
        }
        var y = 0
        while (y < h) { bos.write(row); y += 1 }
        f += 1
      }
      bos.toByteArray
  }

  val encodeAviRamp: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(aviRamp _)

  /** REAL Motion-JPEG AVI encode: same container as [[aviRamp]] but the
    * stream is 'MJPG' and frame f is a solid-color JPEG (javax.imageio
    * writer). JPEG is LOSSY — the decoded color differs from the encoded
    * one by a few counts (RGB→YCbCr rounding + DCT quantization) — so
    * unlike the DIB/PCM fixtures the oracle contract is structural fields
    * exact + channel means within a small tolerance, asserted Spark-side
    * as a boolean the oracle predicts (see pp_media_video_mjpg).
    */
  def aviMjpgRamp(w: Int, h: Int, nFrames: Int, usPerFrame: Int,
      r0: Int, rs: Int, g0: Int, gs: Int, b0: Int, bs: Int): Array[Byte] = {
      val frames = Array.tabulate(nFrames) { f =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val c = (((r0 + f * rs) % 256) << 16) | (((g0 + f * gs) % 256) << 8) |
          ((b0 + f * bs) % 256)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, c); x += 1 }
          y += 1
        }
        val fb = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", fb)
        fb.toByteArray
      }
      val bos = new java.io.ByteArrayOutputStream()
      def dw(v: Int): Unit = {
        bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
        bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
      }
      def cc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
      val maxFrame = frames.map(_.length).max
      val strlSize = 4 + (8 + 56) + (8 + 40)
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
      val moviSize = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
      cc("RIFF"); dw(4 + (8 + hdrlSize) + (8 + moviSize)); cc("AVI ")
      cc("LIST"); dw(hdrlSize); cc("hdrl")
      cc("avih"); dw(56)
      dw(usPerFrame); dw(0); dw(0); dw(0); dw(nFrames)
      dw(0); dw(1); dw(maxFrame); dw(w); dw(h); dw(0); dw(0); dw(0); dw(0)
      cc("LIST"); dw(strlSize); cc("strl")
      cc("strh"); dw(56)
      cc("vids"); cc("MJPG"); dw(0); dw(0); dw(0)
      dw(usPerFrame); dw(1000000); dw(0); dw(nFrames)
      dw(maxFrame); dw(-1); dw(0); dw(0); dw(0)
      cc("strf"); dw(40)
      dw(40); dw(w); dw(h); dw(1 | (24 << 16)); dw(MjpgFourcc); dw(maxFrame)
      dw(0); dw(0); dw(0); dw(0)
      cc("LIST"); dw(moviSize); cc("movi")
      frames.foreach { f =>
        cc("00dc"); dw(f.length) // compressed frames are '##dc'
        bos.write(f)
        if ((f.length & 1) == 1) bos.write(0) // even-offset padding
      }
      bos.toByteArray
  }

  val encodeAviMjpgRamp: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(aviMjpgRamp _)

  /** documents → a synthetic media table: payload = utf-8 bytes of text.
    * Deterministic, so oracles can recompute byte lengths/digests.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("media_type"),
      col("text").cast("binary").as("payload"),
      struct(
        (col("n_chars") % 640 + 32).cast("int").as("width"),
        (col("n_chars") % 480 + 32).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") % 300 + 1).cast("int").as("n_frames"),
        lit("fake/v1").as("codec")).as("meta"))

  /** STUB decode: deterministic 8-bucket byte histogram as the "features".
    * A real implementation decodes pixels/samples here; the aggregation
    * shape (one row per media, fixed-length feature vector) is the part
    * that matters for the pipeline.
    */
  def fakeDecodeFeatures(payload: Column): Column = {
    array((0 until 8).map { b =>
      // deterministic per-bucket pseudo-count from the md5 of payload
      conv(substring(md5(payload), b * 4 + 1, 3), 16, 10).cast("double") / 4096.0
    }: _*)
  }

  /** frame sampling stub: every nth "frame" index up to n_frames */
  def sampleFrameIndexes(nFrames: Column, every: Int): Column =
    sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(every))

  /** feature extraction pass over a media table */
  def extractFeatures(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("media_type"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("digest"),
      fakeDecodeFeatures(col("payload")).as("features"),
      sampleFrameIndexes(col("meta.n_frames"), 30).as("sampled_frames"))
}
