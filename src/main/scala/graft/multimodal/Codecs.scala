package graft.multimodal

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/** Real JDK-only codecs for the multimodal operators.
  *
  * Images: `javax.imageio` ships PNG/JPEG/BMP/GIF readers and writers in
  * every JDK — no native codec libraries needed. Audio: `javax.sound.sampled`
  * parses and writes RIFF/WAVE PCM. Both are used executor-side inside
  * `mapPartitions` (one call per row, no shared mutable state — ImageIO's
  * static readers are thread-safe per invocation since each read allocates
  * its own ImageReader).
  *
  * Video is real too: [[VideoCodec]] hand-parses the RIFF/
  * MJPEG-AVI container (the JDK ships no demuxer) and the frames are
  * JPEGs this ImageCodec decodes.
  */
object ImageCodec {

  /** Pixel-count ceiling for decode: a BufferedImage allocates ~4 bytes per
    * pixel BEFORE any catch can help, so a decompression bomb (a tiny
    * payload whose header declares 50000×50000) must be rejected from the
    * HEADER alone — the allocation would be an OutOfMemoryError, which is
    * an Error, escapes `catch Exception`, and can take the whole executor
    * JVM with it, not just the task. 64 M pixels ≈ 256 MB ARGB, far above
    * any legitimate fixture or thumbnail-scale payload.
    */
  val MaxDecodePixels: Long = 64L * 1024 * 1024

  /** Decode any ImageIO-supported payload (PNG/JPEG/BMP/GIF). Returns None
    * for unrecognized or corrupt bytes rather than throwing, so mixed-type
    * media columns never fail a whole partition. Dimensions are read from
    * the header FIRST (ImageReader.getWidth/getHeight decode no pixels);
    * payloads declaring more than [[MaxDecodePixels]] degrade to None
    * instead of attempting the allocation.
    */
  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (readers == null || !readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val w = r.getWidth(0)
            val h = r.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels) None
            else Option(r.read(0))
          } finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Mean Rec.601 luminance over all pixels, normalized to [0, 1]. */
  def meanLuma(img: BufferedImage): Double = {
    val (w, h) = (img.getWidth, img.getHeight)
    var sum = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        sum += 0.299 * r + 0.587 * g + 0.114 * b
        x += 1
      }
      y += 1
    }
    sum / (w.toLong * h) / 255.0
  }

  /** Scale to exactly (w1, h1) with bilinear interpolation. */
  def scaleTo(img: BufferedImage, w1: Int, h1: Int): BufferedImage = {
    val out = new BufferedImage(w1, h1, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w1, h1, null)
    } finally g.dispose()
    out
  }

  /** 64-bit difference hash (dHash) over DECODED luminance: bilinear-scale
    * to 9×8, bit y·8+x = 1 iff luma(x+1, y) > luma(x, y). Operating on
    * pixels makes it encoding-invariant: any LOSSLESS re-encode (PNG vs
    * BMP, identical pixels) hashes EXACTLY equal, and global brightness
    * shifts preserve the differences. Resizes are ROBUST, not exact —
    * interpolation flips a few near-threshold comparisons (measured
    * Hamming 3 for a 2× upscale), so exact-hash grouping catches
    * re-encodes while resized variants need a Hamming-≤d candidate join
    * (the LSH-banding extension). Crops and rotations break it by design
    * — this is the cheap first tier of image near-dup, not a learned
    * embedding.
    */
  def dHash64(img: BufferedImage): Long = {
    val s = scaleTo(img, 9, 8)
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lumaAt(s, x + 1, y) > lumaAt(s, x, y)) h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  private def lumaAt(img: BufferedImage, x: Int, y: Int): Double = {
    val rgb = img.getRGB(x, y)
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
      0.114 * (rgb & 0xff)
  }

  def encodePng(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** L2-normalized luminance histogram over the DECODED pixels — a real
    * content descriptor: two encodings of the same pixels (PNG vs BMP)
    * yield identical features, which no compressed-byte statistic can
    * promise. A learned encoder would slot in here; the histogram is the
    * model-free baseline.
    */
  def lumaHistogram(img: BufferedImage, dim: Int): Array[Float] = {
    val acc = new Array[Float](dim)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        acc(math.min(dim - 1, (luma * dim / 256.0).toInt)) += 1f
        x += 1
      }
      y += 1
    }
    val n = math.sqrt(acc.iterator.map(v => v.toDouble * v.toDouble).sum)
    if (n > 0) acc.map(v => (v / n).toFloat) else acc
  }

  /** Deterministic tiny test image: a seeded color-gradient pattern, so the
    * fixture synthesizer can mint unique-but-reproducible real PNGs per row.
    */
  def synthPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // cheap avalanche mix of (seed, x, y) → stable per-pixel color
        var z = seed + x * 0x9e3775cb97f4a7c5L + y * 0xc2b2ae3d27d4eb4fL
        z = (z ^ (z >>> 31)) * 0x7fb5d329728ea185L
        z ^= z >>> 29
        img.setRGB(x, y, (z & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }
}

object AudioCodec {

  /** Encode doubles in [-1, 1] as 16-bit signed little-endian mono WAV. */
  def encodeWavPcm16(samples: Array[Double], hz: Int): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = math.max(-1.0, math.min(1.0, samples(i)))
      val v = math.round(s * 32767.0).toInt
      pcm(i * 2) = (v & 0xff).toByte
      pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(hz.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val baos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Decode a WAV payload to (samples in [-1, 1], sample rate). None for
    * non-WAV / unsupported encodings (only 16-bit mono PCM is accepted —
    * the fixture's own format; a production codec layer would convert).
    */
  def decodeWavPcm16(bytes: Array[Byte]): Option[(Array[Double], Int)] =
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        val out = new Array[Double](n)
        val be = fmt.isBigEndian
        var i = 0
        while (i < n) {
          val lo = pcm(i * 2) & 0xff
          val hi = pcm(i * 2 + 1) & 0xff
          val v = if (be) ((lo << 8) | hi).toShort else ((hi << 8) | lo).toShort
          out(i) = v / 32768.0
          i += 1
        }
        Some((out, fmt.getSampleRate.toInt))
      }
    } catch { case _: Exception => None }

  /** L2-normalized spectral band energies over decoded PCM — a real audio
    * content descriptor (two encodings of the same signal give the same
    * spectrum; no byte statistic can promise that). One Goertzel recurrence
    * per band k at normalized frequency ω_k = π·(k+0.5)/dim rad/sample —
    * dim single-bin DFTs at 1 multiply-add per sample per band, no FFT
    * library needed. A learned audio encoder would slot in here; the band
    * spectrum is the model-free baseline.
    */
  def bandEnergies(samples: Array[Double], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val n = samples.length
    if (n == 0) return out
    var k = 0
    while (k < dim) {
      val coeff = 2.0 * math.cos(math.Pi * (k + 0.5) / dim)
      var s1 = 0.0
      var s2 = 0.0
      var i = 0
      while (i < n) {
        val s0 = samples(i) + coeff * s1 - s2
        s2 = s1
        s1 = s0
        i += 1
      }
      val p = s1 * s1 + s2 * s2 - coeff * s1 * s2
      out(k) = (math.sqrt(math.max(0.0, p)) / n).toFloat
      k += 1
    }
    val nrm = math.sqrt(out.iterator.map(v => v.toDouble * v.toDouble).sum)
    if (nrm > 0) out.map(v => (v / nrm).toFloat) else out
  }

  /** 64-bit spectral fingerprint over DECODED samples: 8 equal time
    * frames × 8 Goertzel bands; bit f·8+b = 1 iff energy(f, b) >
    * energy(f, (b+1) mod 8). Comparing energies WITHIN a frame makes it
    * volume-invariant (a gain scales every band of the frame equally)
    * and, operating on decoded PCM, encoding-invariant — a lossless
    * re-encode hashes exactly equal. The audio analog of
    * ImageCodec.dHash64, and the same cheap-first-tier caveat: trims and
    * resampling land NEAR (few bits), time shifts break it by design.
    */
  def audioHash64(samples: Array[Double], nFrames: Int = 8,
      nBands: Int = 8): Long = {
    require(nFrames * nBands <= 64, "fingerprint must fit 64 bits")
    var h = 0L
    val n = samples.length
    var f = 0
    while (f < nFrames) {
      val from = (n.toLong * f / nFrames).toInt
      val until = (n.toLong * (f + 1) / nFrames).toInt
      val e = bandEnergies(java.util.Arrays.copyOfRange(samples, from, until),
        nBands)
      var b = 0
      while (b < nBands) {
        if (e(b) > e((b + 1) % nBands)) h |= 1L << (f * nBands + b)
        b += 1
      }
      f += 1
    }
    h
  }

  /** Deterministic test tone: two seeded harmonics, amplitude < 1. */
  def synthWav(seed: Long, nSamples: Int, hz: Int): Array[Byte] = {
    val f1 = 100.0 + math.floorMod(seed, 300)
    val f2 = 500.0 + math.floorMod(seed >> 8, 1500)
    val samples = Array.tabulate(nSamples) { i =>
      val t = i.toDouble / hz
      0.5 * math.sin(2 * math.Pi * f1 * t) + 0.3 * math.sin(2 * math.Pi * f2 * t)
    }
    encodeWavPcm16(samples, hz)
  }
}
