package graft.ops

import java.util.zip.{CRC32, Deflater, Inflater}

/** Pure-JVM PNG codec (8-bit truecolor, the public RFC 2083 / W3C
  * PNG spec): real chunk framing (length / type / data / CRC-32),
  * real zlib DEFLATE streams (`java.util.zip` — the JDK's public
  * compression API, no third-party dependency), and all FIVE scanline
  * filter types (None / Sub / Up / Average / Paeth) on both the
  * encode and decode side. This upgrades the round-11 codec family
  * ([[ImageCodec]]: PPM + BMP, both *uncompressed* containers) with a
  * genuinely compressed format: the decoded pixel plane is a function
  * of inflate + per-row unfiltering, so an oracle match on `px_sum`
  * certifies the whole decompression pipeline, not just header math.
  *
  * The encoder deliberately cycles the filter type per row
  * (`y mod 5`) so every round-trip — and therefore every
  * `multimodal_png` oracle row — exercises every filter's
  * reconstruction arithmetic, including Paeth's three-way predictor.
  *
  * Scale note: like the other codecs this is row-local, map-shaped
  * work that runs inside the codec kernel ([[Multimodal.kernel]]) —
  * compressed payload bytes and decoded pixel buffers never leave the
  * task; only metadata / witness columns travel. Nothing about the Spark plan
  * changes at 100 TB.
  *
  * Beyond-reference surface: the reference engine has no binary type
  * at all (SURVEY §1.2; reference src/datatypes/mod.rs:14-22).
  */
object PngCodec {

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Paeth predictor per the spec: the neighbor (left a, above b,
    * upper-left c) closest to a + b − c, ties broken a, b, c. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode 8-bit RGB as PNG: IHDR (colour type 2), one IDAT holding
    * the zlib-deflated filtered scanline stream (filter type cycles
    * `y mod 5` so decoders must implement all five), IEND. CRC-32 per
    * chunk over type + data, as the spec requires. */
  def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    val defl = new Deflater(Deflater.BEST_SPEED, false)
    try encodeWith(width, height, rgb, defl) finally defl.end()
  }

  /** [[encode]] with a CALLER-owned zlib-wrapping Deflater
    * (`new Deflater(level, false)`), reset here — zlib state is
    * ~270 KB of native memory, so partition-wise encoders allocate
    * one and reuse it across rows. */
  def encodeWith(width: Int, height: Int, rgb: Array[Byte],
      defl: Deflater): Array[Byte] = {
    require(rgb.length == width.toLong * height * 3, "bad pixel buffer")
    val bpp = 3
    val rowBytes = width * bpp
    // filtered scanline stream: per row one filter-type byte + bytes
    val raw = new Array[Byte]((1 + rowBytes) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      val o = y * (1 + rowBytes)
      raw(o) = f.toByte
      var i = 0
      while (i < rowBytes) {
        val cur = rgb(y * rowBytes + i) & 0xff
        val left = if (i >= bpp) rgb(y * rowBytes + i - bpp) & 0xff else 0
        val up = if (y > 0) rgb((y - 1) * rowBytes + i) & 0xff else 0
        val ul =
          if (y > 0 && i >= bpp) rgb((y - 1) * rowBytes + i - bpp) & 0xff
          else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        raw(o + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    // zlib-wrap via the JDK Deflater (nowrap=false -> zlib header +
    // adler32 trailer, exactly what PNG's IDAT carries). BEST_SPEED:
    // the decode CONTRACT is container-length-independent (raw_len /
    // px_sum), so the encoder — which only exists to feed the decode
    // path real compressed streams — takes the fast level
    defl.reset()
    defl.setInput(raw); defl.finish()
    val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) buf.write(tmp, 0, defl.deflate(tmp))
    val idat = buf.toByteArray

    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    out.write(Signature, 0, Signature.length)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val b = java.nio.ByteBuffer.allocate(4 + 4 + data.length + 4)
      b.putInt(data.length).put(t).put(data)
      val crc = new CRC32(); crc.update(t); crc.update(data)
      b.putInt(crc.getValue.toInt)
      out.write(b.array(), 0, b.capacity())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // colour type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
    chunk("IHDR", ihdr.array())
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode an 8-bit truecolor PNG. Every header field is UNTRUSTED:
    * chunk lengths are bounds-checked, every chunk's CRC-32 is
    * verified (corruption fails loud, never decodes garbage), the
    * inflated stream must be EXACTLY the scanline-serialized size,
    * and filter-type bytes outside 0..4 are parse errors. Multiple
    * IDAT chunks are concatenated per the spec (chunk boundaries are
    * arbitrary within the zlib stream). */
  def decode(bytes: Array[Byte]): ImageCodec.Image = {
    val infl = new Inflater(false)
    try decodeWith(bytes, infl) finally infl.end()
  }

  /** [[decode]] with a CALLER-owned zlib Inflater
    * (`new Inflater(false)`), reset here — for partition-wise batch
    * decoders that would otherwise allocate ~270 KB of native zlib
    * state per row. */
  def decodeWith(bytes: Array[Byte],
      reusedInfl: Inflater): ImageCodec.Image = {
    require(bytes.length >= Signature.length + 12, "PNG: truncated file")
    require(java.util.Arrays.equals(
        java.util.Arrays.copyOf(bytes, 8), Signature),
      "PNG: bad signature")
    val b = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
    b.position(8)
    var w = -1; var h = -1
    var sawIhdr = false; var sawIend = false
    var sawIdat = false; var idatDone = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      require(b.remaining() >= 12, "PNG: truncated chunk header")
      val len = b.getInt
      require(len >= 0 && len <= b.remaining() - 8,
        s"PNG: chunk length $len outside the file")
      val typ = new Array[Byte](4); b.get(typ)
      val data = new Array[Byte](len); b.get(data)
      val crcStored = b.getInt
      val crc = new CRC32(); crc.update(typ); crc.update(data)
      require(crc.getValue.toInt == crcStored,
        s"PNG: CRC mismatch in ${new String(typ, "US-ASCII")} chunk")
      new String(typ, java.nio.charset.StandardCharsets.US_ASCII) match {
        case "IHDR" =>
          require(!sawIhdr, "PNG: duplicate IHDR")
          require(len == 13, s"PNG: IHDR length $len != 13")
          val ib = java.nio.ByteBuffer.wrap(data)
          w = ib.getInt; h = ib.getInt
          val depth = ib.get(); val colour = ib.get()
          val comp = ib.get(); val filt = ib.get(); val inter = ib.get()
          require(depth == 8 && colour == 2,
            s"PNG: only 8-bit truecolor supported (depth=$depth, " +
              s"colour=$colour)")
          require(comp == 0 && filt == 0 && inter == 0,
            "PNG: unsupported compression/filter/interlace method")
          // the serialized-scanline length (1 + 3w)·h must fit an Int
          // too: w·h·3 alone can pass while (1+3w)·h wraps negative
          // and surfaces as NegativeArraySizeException downstream
          require(w > 0 && h > 0 &&
              (1L + 3L * w) * h <= Int.MaxValue,
            s"PNG: unreasonable dimensions $w x $h")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "PNG: IDAT before IHDR")
          // the spec requires IDAT chunks be CONSECUTIVE — an
          // ancillary chunk interleaved into the IDAT run is
          // corruption (tracked by presence, not accumulated bytes:
          // zero-length IDAT chunks are legal and must still arm it)
          require(!idatDone, "PNG: non-consecutive IDAT chunks")
          sawIdat = true
          idat.write(data, 0, len)
        case "IEND" => sawIend = true
        case _ => // ancillary chunks: skipped (CRC still verified)
          if (sawIdat) idatDone = true
      }
    }
    // fail-loud posture: a PNG with trailing garbage after IEND is
    // corruption (or smuggled data), not a decodable image
    require(b.remaining() == 0,
      s"PNG: ${b.remaining()} trailing bytes after IEND")
    require(sawIhdr, "PNG: missing IHDR")
    require(idat.size() > 0, "PNG: missing IDAT")

    // inflate to EXACTLY the scanline-serialized size; more or fewer
    // bytes is corruption (and the exact cap bounds allocation on a
    // hostile stream)
    val rowBytes = w * 3
    val rawLen = (1 + rowBytes) * h
    val raw = new Array[Byte](rawLen)
    val infl = reusedInfl
    infl.reset()
    infl.setInput(idat.toByteArray)
    var got = 0
    while (got < rawLen && !infl.finished()) {
      val n =
        try infl.inflate(raw, got, rawLen - got)
        catch { case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(
            s"PNG: corrupt zlib stream: ${e.getMessage}")
        }
      require(n > 0 || infl.finished(),
        "PNG: truncated or non-zlib IDAT stream")
      got += n
    }
    val extra = infl.inflate(new Array[Byte](1))
    require(got == rawLen && extra == 0 &&
        (infl.finished() || infl.getRemaining == 0),
      s"PNG: inflated stream size mismatch (got $got, want $rawLen)")

    // unfilter: Recon(x) = Filt(x) + predictor, mod 256
    val bpp = 3
    val rgb = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (1 + rowBytes)) & 0xff
      require(f <= 4, s"PNG: unknown filter type $f on row $y")
      var i = 0
      while (i < rowBytes) {
        val filt = raw(y * (1 + rowBytes) + 1 + i) & 0xff
        val left = if (i >= bpp) rgb(y * rowBytes + i - bpp) & 0xff else 0
        val up = if (y > 0) rgb((y - 1) * rowBytes + i) & 0xff else 0
        val ul =
          if (y > 0 && i >= bpp) rgb((y - 1) * rowBytes + i - bpp) & 0xff
          else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        rgb(y * rowBytes + i) = ((filt + pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    ImageCodec.Image("png", w, h, rgb)
  }
}
