package graft.ops

/** Pure-JVM WAV / PCM audio codec (the public RIFF/WAVE container,
  * format tag 1 = integer PCM, 16-bit little-endian samples) plus the
  * integer-exact signal features a training-data pipeline computes
  * over decoded audio. Completes the round-11 real-codec story across
  * modalities: image ([[ImageCodec]] / [[PngCodec]]), audio (this),
  * video ([[VideoCodec]]).
  *
  * Every feature is INTEGER arithmetic over the decoded samples
  * (energy as the sum of squares, zero-crossings as strict sign
  * transitions, peak as max |s|) so the DuckDB oracle can replay them
  * exactly from the deterministic sample generator — no float
  * accumulation to drift across engines.
  *
  * Scale note: decode + featurize is row-local, map-shaped work in
  * the same kernel as the image codecs ([[Multimodal.kernel]]); sample buffers
  * never leave the task — only metadata / witness columns travel.
  *
  * Beyond-reference surface: the reference engine has no binary type
  * at all (SURVEY §1.2; reference src/datatypes/mod.rs:14-22).
  */
object AudioCodec {

  /** Decoded clip: mono-or-multichannel interleaved PCM16 samples. */
  final case class Audio(sampleRate: Int, channels: Int,
      samples: Array[Short])

  /** Encode PCM16 as canonical WAV: RIFF header, 16-byte `fmt `
    * chunk (format 1 = PCM), `data` chunk with little-endian
    * samples. */
  def encodeWav(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0, "bad wav params")
    require(samples.length % channels == 0,
      "sample count must be a whole number of frames")
    // >1G samples would wrap `length * 2` negative and surface as an
    // opaque allocation error; the RIFF container tops out near 4 GB
    // anyway, so fail with the codec's own message
    require(samples.length.toLong * 2 + 44 <= Int.MaxValue,
      s"WAV: ${samples.length} samples exceed the RIFF size limit")
    val dataLen = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                      // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(b.putShort)
    b.array()
  }

  /** Decode a WAV file. Headers are UNTRUSTED: chunk sizes are
    * bounds-checked, unknown chunks are skipped per the RIFF spec
    * (including the odd-length pad byte), only format 1 / 16-bit is
    * accepted, and `data` must hold a whole number of frames. */
  def decodeWav(bytes: Array[Byte]): Audio = {
    require(bytes.length >= 44, "WAV: truncated header")
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(at: Int): String =
      new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(fourcc(0) == "RIFF" && fourcc(8) == "WAVE",
      "WAV: not a RIFF/WAVE file")
    var pos = 12
    var rate = -1; var channels = -1
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length && (rate < 0 || samples == null)) {
      val id = fourcc(pos)
      val len = b.getInt(pos + 4)
      // Long arithmetic: a hostile len near Int.MaxValue would wrap
      // `pos + 8 + len` negative and sail past an Int comparison
      require(len >= 0 && pos.toLong + 8 + len <= bytes.length,
        s"WAV: chunk '$id' size $len outside the file")
      id match {
        case "fmt " =>
          require(len >= 16, s"WAV: fmt chunk too short ($len)")
          val tag = b.getShort(pos + 8)
          require(tag == 1, s"WAV: only PCM (format 1) supported ($tag)")
          channels = b.getShort(pos + 10)
          rate = b.getInt(pos + 12)
          val bits = b.getShort(pos + 22)
          require(bits == 16, s"WAV: only 16-bit supported ($bits)")
          require(channels > 0 && rate > 0,
            s"WAV: unreasonable fmt (channels=$channels, rate=$rate)")
        case "data" =>
          require(rate > 0, "WAV: data chunk before fmt")
          require(len % (2 * channels) == 0,
            s"WAV: data size $len is not whole frames")
          val n = len / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = b.getShort(pos + 8 + 2 * i); i += 1 }
          samples = out
        case _ => () // ancillary chunk (LIST, fact, ...): skip
      }
      // bounded by the require above, so this cannot wrap negative
      pos += 8 + len + (len & 1) // RIFF pads odd chunks by one byte
    }
    require(rate > 0, "WAV: missing fmt chunk")
    require(samples != null, "WAV: missing data chunk")
    Audio(rate, channels, samples)
  }

  /** Sum of squared sample values — the integer energy witness
    * (Long: 2^31 samples at full scale stay well under 2^63). */
  def squareSum(samples: Array[Short]): Long = {
    var s = 0L; var i = 0
    while (i < samples.length) {
      val v = samples(i).toLong; s += v * v; i += 1
    }
    s
  }

  /** Strict sign transitions: count of i>0 where sign(s_i) differs
    * from sign(s_{i-1}), a sample being negative or not (zero counts
    * as non-negative — one fixed, replayable convention). */
  def zeroCrossings(samples: Array[Short]): Long = {
    var z = 0L; var i = 1
    while (i < samples.length) {
      if ((samples(i) < 0) != (samples(i - 1) < 0)) z += 1
      i += 1
    }
    z
  }

  /** Max |sample| as Int (Short.MinValue negates safely in Int). */
  def peak(samples: Array[Short]): Int = {
    var p = 0; var i = 0
    while (i < samples.length) {
      val v = math.abs(samples(i).toInt); if (v > p) p = v; i += 1
    }
    p
  }
}
