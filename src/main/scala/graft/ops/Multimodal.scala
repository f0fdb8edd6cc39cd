package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: images/audio/video ride through the engine as
  * opaque `binary` columns with a typed metadata struct; decode and feature
  * extraction run batched per partition.
  *
  * The codec step is pluggable ([[MediaCodec]]): [[ImageIoCodec]] is a REAL
  * decoder — JDK-only `javax.imageio` (PNG/JPEG/GIF/BMP), no external
  * dependency — and [[StubCodec]] keeps the deterministic fake-pixel path
  * for synthetic payloads (the `documents`-derived media fixtures are text
  * bytes, not encoded images). Audio/video codecs are not in the JDK; they
  * drop into the same interface (a JNI/javacv call behind `decode`).
  *
  * Scale notes: media blobs make rows wide, so feature extraction uses
  * mapPartitions (one decoder init per partition, not per row) and the
  * output drops the payload (features only) to keep the shuffle thin.
  * Partition sizing: with ~1 MB blobs, keep
  * spark.sql.files.maxPartitionBytes at its 128 MB default → ~128 rows per
  * task; never collect media columns to the driver.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata (the schema contract). */
  case class MediaRow(
      media_id: Long,
      payload: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      format: String,
      mean_intensity: Double,
      resized_w: Int,
      resized_h: Int,
      frame_offsets: Seq[Long])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Synthesize a media table from any (id, text) source — deterministic
    * fake payloads for pipeline tests.
    */
  def syntheticMediaTable(spark: SparkSession, src: DataFrame,
      idCol: String, textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    src.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      lit("fakeimg").as("format"),
      (pmod(col(idCol), lit(64)) + 32).cast("int").as("width"),
      (pmod(col(idCol), lit(48)) + 24).cast("int").as("height"))
      .as[MediaRow]
  }

  /** The decode contract: payload bytes → (actual width, actual height,
    * row-major intensities in [0, 1]). Serializable so an instance can ride
    * into a mapPartitions closure; implementations needing native handles
    * should lazy-init them per partition (see [[extractFeatures]]).
    */
  trait MediaCodec extends Serializable {
    def decode(payload: Array[Byte], declaredW: Int, declaredH: Int): (Int, Int, Array[Double])
  }

  /** Deterministic fake-pixel decoder for synthetic payloads (text bytes
    * posing as media): intensities derived from the raw bytes, dimensions
    * taken from the declared metadata.
    */
  object StubCodec extends MediaCodec {
    override def decode(payload: Array[Byte], w: Int, h: Int): (Int, Int, Array[Double]) =
      (w, h, decodeStub(payload, w, h))
  }

  /** REAL image decoder on the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP —
    * zero external dependencies). Dimensions come from the decoded image,
    * not the declared metadata; intensities are ITU-R BT.601 luma of the
    * sRGB pixels, row-major, in [0, 1]. Fails loudly on undecodable bytes
    * rather than returning fake pixels.
    */
  object ImageIoCodec extends MediaCodec {
    override def decode(payload: Array[Byte], declaredW: Int, declaredH: Int): (Int, Int, Array[Double]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, s"ImageIoCodec: payload (${payload.length} bytes) is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      // one bulk getRGB per image, not one virtual call + ColorModel
      // conversion per pixel — several times faster on megapixel inputs
      val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Double](w * h)
      var i = 0
      while (i < out.length) {
        val rgb = rgbs(i)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        out(i) = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
        i += 1
      }
      (w, h, out)
    }
  }

  /** Re-encode an image payload at new dimensions (bilinear-ish smooth
    * scale, PNG out) — the real counterpart of q_multimodal_resize's
    * metadata-cost planning. JDK-only; runs inside mapPartitions on
    * executors, payload in → payload out, nothing touches the driver.
    */
  def resizePng(payload: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    require(newW > 0 && newH > 0, s"bad resize target ${newW}x$newH")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"resizePng: payload (${payload.length} bytes) is not a decodable image")
    val scaled = img.getScaledInstance(newW, newH, java.awt.Image.SCALE_SMOOTH)
    val out = new java.awt.image.BufferedImage(newW, newH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try g.drawImage(scaled, 0, 0, null) finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** STUB decoder body: deterministic fake pixel intensities from raw bytes
    * (kept for synthetic fixtures; [[ImageIoCodec]] is the real path).
    */
  private[ops] def decodeStub(payload: Array[Byte], w: Int, h: Int): Array[Double] = {
    val out = new Array[Double](w * h)
    var i = 0
    while (i < out.length) {
      val b = if (payload.length > 0) payload(i % payload.length) & 0xff else 0
      out(i) = b / 255.0
      i += 1
    }
    out
  }

  // ---- audio -----------------------------------------------------------

  /** An audio row: opaque payload + container format tag. */
  case class AudioRow(media_id: Long, payload: Array[Byte], format: String)

  /** Per-clip features a training-data pipeline filters on: duration for
    * length screens, RMS/peak for silence and clipping detection,
    * zero-crossing rate as a cheap spectral proxy.
    */
  case class AudioFeatures(
      media_id: Long,
      n_bytes: Long,
      sample_rate: Double,
      n_samples: Long,
      duration_s: Double,
      rms: Double,
      peak: Double,
      zero_cross_rate: Double)

  /** REAL audio decode on the JDK's `javax.sound.sampled` (WAV containers:
    * PCM signed/unsigned/float, A-law, µ-law — zero external dependencies):
    * payload bytes → (sample rate, first-channel amplitudes in [-1, 1]).
    * Compressed codecs (mp3/ogg) are not in the JDK; they drop into the
    * same decode-to-PCM seam via JNI/javacv. Fails loudly on undecodable
    * bytes — a corrupt clip must surface, not score as silence.
    */
  def decodeWav(payload: Array[Byte]): (Double, Array[Double]) = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
    try {
      val src = in.getFormat
      // normalize every WAV flavor to 16-bit signed little-endian PCM once,
      // instead of hand-decoding each encoding/endianness/width combination
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        src.getSampleRate, 16, src.getChannels, src.getChannels * 2,
        src.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(target, in)
      try {
        val bytes = pcm.readAllBytes()
        val channels = target.getChannels
        val n = bytes.length / (2 * channels)
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          val base = i * 2 * channels // first channel of the interleaved frame
          val s = ((bytes(base + 1) << 8) | (bytes(base) & 0xff)).toShort
          out(i) = s / 32768.0
          i += 1
        }
        (target.getSampleRate.toDouble, out)
      } finally pcm.close()
    } finally in.close()
  }

  /** Deterministic WAV synthesis (16-bit mono PCM sine) for fixtures — the
    * audio twin of [[syntheticMediaTable]]'s fake pixels, except the bytes
    * are a VALID WAV container so the real decoder exercises end-to-end.
    */
  def sineWav(freqHz: Double, amplitude: Double, seconds: Double,
      sampleRate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = (seconds * sampleRate).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (amplitude * math.sin(2 * math.Pi * freqHz * i / sampleRate) * 32767).toInt
      pcm(i * 2) = (s & 0xff).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, sampleRate, 16, 1, 2, sampleRate, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Batched audio feature extraction — same scale shape as
    * [[extractFeatures]]: mapPartitions, payload dropped on output, only
    * the thin feature row ever shuffles.
    */
  def extractAudioFeatures(audio: Dataset[AudioRow]): Dataset[AudioFeatures] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val (rate, samples) = decodeWav(r.payload)
        val n = samples.length
        var sumSq = 0.0
        var peak = 0.0
        var crossings = 0L
        var i = 0
        while (i < n) {
          val s = samples(i)
          sumSq += s * s
          if (math.abs(s) > peak) peak = math.abs(s)
          if (i > 0 && (s >= 0) != (samples(i - 1) >= 0)) crossings += 1
          i += 1
        }
        val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
        val zcr = if (n > 1) crossings.toDouble / (n - 1) else 0.0
        AudioFeatures(r.media_id, r.payload.length.toLong, rate, n.toLong,
          if (rate > 0) n / rate else 0.0, rms, peak, zcr)
      }
    }
  }

  /** 64-bit audio fingerprint: the clip's samples split into `frames`+1
    * equal windows, per-window energy (Σ|amplitude|), one bit per
    * adjacent-window comparison (energy rises → 1) — frame-energy delta
    * coding, the time-axis twin of [[dHash]]'s row gradients and the
    * core move of published audio fingerprints (threshold the DELTA of
    * band/frame energies, not their absolute level, so overall gain
    * cancels out of every bit). Emitted as two 32-bit halves like the
    * image hashes, so [[audioNearDupPairs]] reuses the same banded
    * pairing and its pigeonhole guarantee verbatim.
    *
    * Formats: "wav" decodes for real through [[decodeWav]]; "fakepcm"
    * treats payload bytes as unsigned 8-bit samples (energy |b−128|,
    * all-integer) — the stub that lets the DuckDB oracle replay every
    * bit from the corpus bytes, exactly [[StubCodec]]'s role for images
    * (the real-decode half is spec-gated in MultimodalSpec). Same
    * mapPartitions scale shape as [[extractAudioFeatures]]: payload
    * never shuffles, only the 17-byte hash row does.
    */
  def audioFingerprint(audio: Dataset[AudioRow]): DataFrame = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val energies: Array[Double] = r.format match {
          case "fakepcm" =>
            val b = r.payload
            require(b.length >= 65,
              s"audioFingerprint: clip ${r.media_id} has ${b.length} fake " +
                "samples; need >= 65 for 65 windows")
            frameEnergies(b.length, 65, i => math.abs((b(i) & 0xff) - 128).toDouble)
          case _ =>
            val (_, samples) = decodeWav(r.payload)
            require(samples.length >= 65,
              s"audioFingerprint: clip ${r.media_id} has ${samples.length} " +
                "samples; need >= 65 for 65 windows")
            frameEnergies(samples.length, 65, i => math.abs(samples(i)))
        }
        var hi = 0L; var lo = 0L
        var j = 0
        while (j < 64) {
          val bit = if (energies(j + 1) > energies(j)) 1L else 0L
          if (j < 32) lo |= bit << j else hi |= bit << (j - 32)
          j += 1
        }
        (r.media_id, hi, lo)
      }
    }.toDF("media_id", "afp_hi", "afp_lo")
  }

  /** Σ f(i) over `frames` equal windows of [0, n) — boundaries at
    * (j·n) div frames, the same floor split the SQL replay uses.
    */
  private def frameEnergies(n: Int, frames: Int,
      f: Int => Double): Array[Double] = {
    val out = new Array[Double](frames)
    var j = 0
    while (j < frames) {
      // long boundary products: j * n overflows Int past ~33.5M samples
      // (a 13-minute 44.1 kHz clip), which would wrap windows negative
      var i = (j.toLong * n / frames).toInt
      val end = ((j + 1).toLong * n / frames).toInt
      var s = 0.0
      while (i < end) { s += f(i); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** Fixed-point cosine table for the 1-D DCT-II behind
    * [[audioSpectralHash]]: afpCosTable(k)(j) = rint(cos(π(2j+1)(k+1)/130)
    * · 2^14) — coefficients k+1 = 1..64 over the 65 frame energies (DC
    * skipped: it carries overall loudness, not spectral shape). Integer
    * table ⇒ the whole transform is exact Long arithmetic, inlineable
    * into the DuckDB oracle — the same trick as [[phCosTable]].
    */
  private[graft] val afpCosTable: Array[Array[Long]] =
    Array.tabulate(64, 65) { (k, j) =>
      math.rint(
        math.cos(math.Pi * (2 * j + 1) * (k + 1) / 130.0) * (1L << 14)).toLong
    }

  /** SPECTRAL 64-bit audio fingerprint: the same 65 window energies as
    * [[audioFingerprint]], but transformed by an integer 1-D DCT-II and
    * thresholded against the coefficient median (32nd smallest of the 64
    * non-DC coefficients — pHash's deterministic convention on the time
    * axis). Where the delta fingerprint sees local energy gradients
    * (cheap, edit-sensitive), the DCT sees the clip's global envelope
    * shape — stable under local edits, and exactly GAIN-INVARIANT by
    * construction: scaling every sample scales every coefficient AND the
    * median by the same factor, leaving every comparison bit unchanged
    * (the 2-D analogue is measured in OpsSpec for pHash; here it is an
    * identity, up to integer quantization of the energies themselves).
    * Same formats contract and mapPartitions shape as audioFingerprint;
    * pairing reuses the shared banding via [[audioNearDupPairs]]' column
    * rename (emit as afp_hi/afp_lo to use it directly).
    */
  def audioSpectralHash(audio: Dataset[AudioRow]): DataFrame = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val energies: Array[Double] = r.format match {
          case "fakepcm" =>
            val b = r.payload
            require(b.length >= 65,
              s"audioSpectralHash: clip ${r.media_id} has ${b.length} fake " +
                "samples; need >= 65 for 65 windows")
            frameEnergies(b.length, 65, i => math.abs((b(i) & 0xff) - 128).toDouble)
          case _ =>
            val (_, samples) = decodeWav(r.payload)
            require(samples.length >= 65,
              s"audioSpectralHash: clip ${r.media_id} has ${samples.length} " +
                "samples; need >= 65 for 65 windows")
            // scale to integral units so the Long DCT below stays exact
            frameEnergies(samples.length, 65,
              i => math.rint(math.abs(samples(i)) * 32768.0))
        }
        val en = energies.map(e => math.rint(e).toLong)
        val c = new Array[Long](64)
        var k = 0
        while (k < 64) {
          var s = 0L; var j = 0
          val row = afpCosTable(k)
          while (j < 65) { s += row(j) * en(j); j += 1 }
          c(k) = s
          k += 1
        }
        val sorted = c.clone(); java.util.Arrays.sort(sorted)
        val med = sorted(31) // 32nd smallest, deterministic
        var hi = 0L; var lo = 0L
        var i = 0
        while (i < 64) {
          val bit = if (c(i) > med) 1L else 0L
          if (i < 32) lo |= bit << i else hi |= bit << (i - 32)
          i += 1
        }
        (r.media_id, hi, lo)
      }
    }.toDF("media_id", "afp_hi", "afp_lo")
  }

  /** [[dHashNearDupPairs]] over an [[audioFingerprint]] table — the same
    * 4×16-band machinery and pigeonhole guarantee, third hash family.
    */
  def audioNearDupPairs(hashes: DataFrame, idCol: String,
      maxDist: Int = 3): DataFrame =
    dHashNearDupPairs(
      hashes.withColumnRenamed("afp_hi", "dhash_hi")
        .withColumnRenamed("afp_lo", "dhash_lo"),
      idCol, maxDist)

  /** Batched feature extraction: decode → mean intensity, resize dims,
    * frame-sample offsets. One decoder context per partition (the
    * mapPartitions contract production decoders need), payload dropped on
    * output. Output width/height are the DECODED dimensions halved (for
    * StubCodec these equal the declared metadata, preserving the oracle
    * contract of q_multimodal_meta/frames).
    */
  def extractFeatures(media: Dataset[MediaRow], frameEvery: Int = 1024,
      codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (e.g. native lib handle)
      rows.map { r =>
        val (w, h, pixels) = codec.decode(r.payload, r.width, r.height)
        val mean = if (pixels.isEmpty) 0.0 else pixels.sum / pixels.length
        val offsets = 0L.until(r.payload.length.toLong, frameEvery.toLong)
        MediaFeatures(r.media_id, r.payload.length.toLong, r.format,
          mean, w / 2, h / 2, offsets)
      }
    }
  }

  // ---- perceptual image hashing ----------------------------------------

  /** Difference-hash (dHash) bits of a decoded intensity grid: sample a
    * `dh` × `(dw+1)` grid nearest-neighbor from the `w`×`h` pixels, set
    * bit `r·dw + c` iff grid(r, c) > grid(r, c+1). Strictly integer
    * index arithmetic (`(r·h) / dh`, `(c·w) / (dw+1)` — truncating
    * division) and a strict `>` comparison, so the hash is exactly
    * reproducible from the same decode in any engine. Row-gradient dHash
    * is the classic cheap perceptual fingerprint: stable under re-
    * encoding/resizing, flipped by content changes.
    */
  private[ops] def dHashBits(pix: Array[Double], w: Int, h: Int,
      dw: Int, dh: Int): Array[Boolean] = {
    // fail loudly, not with an executor-deep ArrayIndexOutOfBounds: a
    // zero-area decode has no gradient to hash (same contract style as
    // ImageIoCodec/resizePng)
    require(w > 0 && h > 0 && pix.length >= w * h,
      s"dHash: need a positive ${w}x$h pixel grid, got ${pix.length} pixels")
    val bits = new Array[Boolean](dw * dh)
    var r = 0
    while (r < dh) {
      val sr = r * h / dh
      var c = 0
      while (c < dw) {
        val a = pix(sr * w + c * w / (dw + 1))
        val b = pix(sr * w + (c + 1) * w / (dw + 1))
        bits(r * dw + c) = a > b
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Per-image 64-bit dHash, emitted as two 32-bit halves
    * (`media_id`, `dhash_hi` = bits 32..63, `dhash_lo` = bits 0..31) so
    * both halves are non-negative longs on every engine — no sign-bit
    * games in a cross-engine compare. One mapPartitions decode pass, the
    * same distributed shape as [[extractFeatures]]; near-dup pairing
    * downstream is a bucket join on hash bands exactly like
    * [[Dedup]]'s SimHash path (exact dups group on the full hash).
    */
  def dHash(media: Dataset[MediaRow], codec: MediaCodec = StubCodec,
      dw: Int = 8, dh: Int = 8): DataFrame = {
    require(dw * dh <= 64, "dHash: at most 64 bits")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, pix) = codec.decode(r.payload, r.width, r.height)
        val bits = dHashBits(pix, w, h, dw, dh)
        var hi = 0L
        var lo = 0L
        var i = 0
        while (i < bits.length) {
          if (bits(i)) {
            if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
          }
          i += 1
        }
        (r.media_id, hi, lo)
      }
    }.toDF("media_id", "dhash_hi", "dhash_lo")
  }

  /** Hamming distance between two (hi, lo) dHash pairs. */
  def dHashDistance(hi1: Long, lo1: Long, hi2: Long, lo2: Long): Int =
    java.lang.Long.bitCount(hi1 ^ hi2) + java.lang.Long.bitCount(lo1 ^ lo2)

  // ---- pHash: DCT low-frequency perceptual hash ------------------------

  /** pHash geometry: a 16×16 nearest-neighbor sample of the decoded
    * intensities, its 2D DCT's top-left 8×8 low-frequency block, cosines
    * in 2^14 fixed point. The cosine table is computed ONCE here and the
    * SAME integer constants are inlined verbatim into the oracle SQL
    * (TextOps builds the literal from this array), so both engines run
    * identical integer arithmetic end to end — a floating-point DCT
    * would leave the bit-for-bit replay hostage to libm ulp differences
    * between the JVM and DuckDB.
    */
  private[graft] val PhGrid = 16
  private[graft] val PhBlock = 8
  private[graft] lazy val phCosTable: Array[Array[Long]] =
    Array.tabulate(PhBlock, PhGrid) { (u, x) =>
      math.round(
        math.cos(math.Pi * (2 * x + 1) * u / (2.0 * PhGrid)) * (1L << 14))
    }

  /** The 64 pHash bits of a decoded intensity grid: sample 16×16
    * (truncating-integer nearest neighbor, [[dHashBits]]' convention),
    * rescale intensities to exact 0..255 integers, integer-DCT the grid,
    * keep the 8×8 low-frequency block, and set bit `u·8+v` iff its
    * coefficient exceeds the MEDIAN (32nd smallest — deterministic, no
    * even-count averaging) of the 63 non-DC coefficients. The DC bit is
    * pinned 0: it carries overall brightness, not structure. Where dHash
    * fingerprints local row gradients (cheap, edit-sensitive), the DCT
    * block sees global low-frequency structure — stable under small
    * pixel edits, re-encoding and resizing; the two families disagree
    * exactly where that distinction matters (measured in OpsSpec).
    */
  private[ops] def pHashBits(pix: Array[Double], w: Int, h: Int): Array[Boolean] = {
    require(w > 0 && h > 0 && pix.length >= w * h,
      s"pHash: need a positive ${w}x$h pixel grid, got ${pix.length} pixels")
    val g = new Array[Long](PhGrid * PhGrid)
    var r = 0
    while (r < PhGrid) {
      val sr = r * h / PhGrid
      var c = 0
      while (c < PhGrid) {
        // exact for the stub codec's b/255.0 pixels (rint recovers b) and
        // a stable 0..255 quantization for real decoded luma
        g(r * PhGrid + c) =
          math.rint(pix(sr * w + c * w / PhGrid) * 255.0).toLong
        c += 1
      }
      r += 1
    }
    // integer 2D DCT, top-left 8×8: |ct|<=2^14, pixel<=255, 256 terms —
    // max |coeff| ~ 1.8e13, far inside Long
    val coeffs = new Array[Long](PhBlock * PhBlock)
    var u = 0
    while (u < PhBlock) {
      var v = 0
      while (v < PhBlock) {
        var acc = 0L
        var rr = 0
        while (rr < PhGrid) {
          val cu = phCosTable(u)(rr)
          var cc = 0
          while (cc < PhGrid) {
            acc += cu * phCosTable(v)(cc) * g(rr * PhGrid + cc)
            cc += 1
          }
          rr += 1
        }
        coeffs(u * PhBlock + v) = acc
        v += 1
      }
      u += 1
    }
    val nonDc = coeffs.drop(1).sorted
    val med = nonDc(31)
    val bits = new Array[Boolean](64)
    var i = 1
    while (i < 64) { bits(i) = coeffs(i) > med; i += 1 }
    bits
  }

  /** Per-image 64-bit pHash as two 32-bit halves (`media_id`, `phash_hi`,
    * `phash_lo`) — same packing, decode pass, and distributed shape as
    * [[dHash]]; see [[pHashBits]] for the hash itself.
    */
  def pHash(media: Dataset[MediaRow],
      codec: MediaCodec = StubCodec): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, pix) = codec.decode(r.payload, r.width, r.height)
        val bits = pHashBits(pix, w, h)
        var hi = 0L
        var lo = 0L
        var i = 0
        while (i < bits.length) {
          if (bits(i)) {
            if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
          }
          i += 1
        }
        (r.media_id, hi, lo)
      }
    }.toDF("media_id", "phash_hi", "phash_lo")
  }

  /** [[dHashNearDupPairs]] over a [[pHash]] table — identical 4×16-band
    * machinery and pigeonhole guarantee (the banding never looks inside
    * the bits), just the other hash family's columns.
    */
  def pHashNearDupPairs(hashes: DataFrame, idCol: String,
      maxDist: Int = 3): DataFrame =
    dHashNearDupPairs(
      hashes.withColumnRenamed("phash_hi", "dhash_hi")
        .withColumnRenamed("phash_lo", "dhash_lo"),
      idCol, maxDist)

  /** Near-duplicate image pairs at Hamming distance <= `maxDist` over a
    * [[dHash]] table `(idCol, dhash_hi, dhash_lo)` — the pairing half of
    * perceptual dedup, O(candidates) not O(n²): the 64 bits split into
    * FOUR 16-bit bands, candidates equi-join on (band index, band value),
    * and the exact distance verifies. Pigeonhole guarantee: maxDist <= 3
    * differing bits cannot touch all 4 bands, so at least one band
    * matches — the candidate set PROVABLY contains every true pair (same
    * structure as [[Dedup]]'s SimHash banding). maxDist > 3 weakens the
    * guarantee to best-effort recall; refused here so callers cannot
    * silently rely on it.
    */
  def dHashNearDupPairs(hashes: DataFrame, idCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "dHashNearDupPairs: the 4x16 banding only guarantees recall to distance 3")
    import org.apache.spark.sql.functions.{shiftrightunsigned => srl}
    val bandStructs = (0 until 4).map { j =>
      val src = if (j < 2) col("dhash_lo") else col("dhash_hi")
      struct(lit(j).as("band"),
        srl(src, (j % 2) * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))
    }
    val banded = hashes.select(col(idCol), col("dhash_hi"), col("dhash_lo"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("dhash_hi"), col("dhash_lo"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val a = banded.select(col(idCol).as("a"), col("dhash_hi").as("ha"),
      col("dhash_lo").as("la"), col("band"), col("bv"))
    val b = banded.select(col(idCol).as("b"), col("dhash_hi").as("hb"),
      col("dhash_lo").as("lb"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}
