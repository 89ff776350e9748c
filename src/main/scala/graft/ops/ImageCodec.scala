package graft.ops

/** Pure-JVM image codec for the multimodal pipeline: binary PPM ("P6",
  * maxval 255, per the public Netpbm spec) and uncompressed 24-bit BMP
  * (BITMAPFILEHEADER + BITMAPINFOHEADER, biBitCount=24,
  * biCompression=0, bottom-up rows padded to 4 bytes — the public
  * Windows DIB layout). Both formats are dependency-free, so the
  * decode step that was a documented stub through round 10
  * ([[Multimodal]]) is now REAL byte-level work: magic sniffing,
  * header parsing, row padding, bottom-up row order and pixel
  * extraction all run against actual encoded bytes inside the same
  * partition-wise batch slot (decode cost stays row-local and
  * map-shaped — nothing about the Spark plan changes at 100 TB, which
  * is the point of keeping the codec inside [[Multimodal.kernel]]).
  *
  * Decoded pixels are row-major top-down RGB, 3 bytes per pixel —
  * the layout both encoders take in, so encode→decode round-trips
  * byte-identically (ImageCodecSpec gates this plus hand-planted
  * golden images per format).
  *
  * Beyond-reference surface: the reference engine has no binary type
  * at all (SURVEY §1.2; reference src/datatypes/mod.rs:14-22).
  */
object ImageCodec {

  /** One decoded image: `rgb` is row-major top-down, 3 bytes/pixel. */
  final case class Image(format: String, width: Int, height: Int,
      rgb: Array[Byte]) {
    require(rgb.length == width.toLong * height * 3,
      s"pixel buffer ${rgb.length} != $width x $height x 3")
  }

  /** Encode as binary PPM (P6): ASCII header `P6\n<w> <h>\n255\n`
    * followed by raw RGB rows, top-down — the Netpbm wire format. */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width.toLong * height * 3, "bad pixel buffer")
    val header = s"P6\n$width $height\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** Encode as uncompressed 24-bit BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, BGR pixel order, rows BOTTOM-UP, each row
    * padded to a 4-byte boundary — the standard DIB layout. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width.toLong * height * 3, "bad pixel buffer")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val imageSize = (rowBytes + pad) * height
    val fileSize = 54 + imageSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // BITMAPFILEHEADER
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(fileSize).putShort(0).putShort(0).putInt(54)
    // BITMAPINFOHEADER
    b.putInt(40).putInt(width).putInt(height) // positive = bottom-up
    b.putShort(1).putShort(24).putInt(0).putInt(imageSize)
    b.putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1
    while (y >= 0) { // bottom-up rows
      var x = 0
      while (x < width) {
        val i = (y * width + x) * 3
        b.put(rgb(i + 2)).put(rgb(i + 1)).put(rgb(i)) // BGR
        x += 1
      }
      var p = 0
      while (p < pad) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** Headers are UNTRUSTED input: dimensions must be positive and the
    * pixel buffer must fit an Int — an overflowing `w·h·3` would wrap
    * negative and surface as an opaque array error (or a huge
    * allocation) instead of a parse failure. */
  private def checkDims(w: Int, h: Int, fmt: String): Unit =
    require(w > 0 && h > 0 && w.toLong * h * 3 <= Int.MaxValue,
      s"$fmt: unreasonable dimensions $w x $h")

  /** Decode by magic sniffing: `P6` → PPM, `BM` → BMP,
    * `\x89PNG` → [[PngCodec]] (real zlib DEFLATE + all five scanline
    * filters), `\xff\xd8` → [[JpegCodec]] (real baseline
    * sequential-DCT decode). Fails loud on anything else — callers
    * with opaque non-image payloads belong on the payload-agnostic
    * operators ([[Multimodal.phashBytes]], feature extraction), not
    * the codec. */
  def decode(bytes: Array[Byte]): Image = {
    require(bytes.length >= 2, "payload too short to sniff")
    if (bytes(0) == 'P'.toByte && bytes(1) == '6'.toByte) decodePpm(bytes)
    else if (bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)
      decodeBmp(bytes)
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P'.toByte)
      PngCodec.decode(bytes)
    else if (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte)
      JpegCodec.decode(bytes)
    else throw new IllegalArgumentException(
      s"unsupported image magic: 0x${"%02x%02x".format(bytes(0), bytes(1))}")
  }

  /** [[decode]] with a CALLER-owned zlib Inflater for the PNG arm
    * (`new Inflater(false)`; the uncompressed formats ignore it) —
    * partition-wise decoders over PNG-bearing corpora reuse one
    * ~270 KB native zlib state across rows instead of allocating per
    * payload. */
  def decode(bytes: Array[Byte],
      pngInfl: java.util.zip.Inflater): Image = {
    require(bytes.length >= 2, "payload too short to sniff")
    if (bytes(0) == 0x89.toByte && bytes(1) == 'P'.toByte)
      PngCodec.decodeWith(bytes, pngInfl)
    else decode(bytes)
  }

  /** PPM (P6) parser: whitespace-separated header tokens with
    * `#`-comment support per the Netpbm spec, maxval must be 255,
    * exactly one whitespace byte before the raw RGB plane. */
  private def decodePpm(bytes: Array[Byte]): Image = {
    var pos = 2 // past "P6"
    def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    def nextInt(): Int = {
      // skip whitespace and #-comments
      var done = false
      while (!done) {
        while (pos < bytes.length && isWs(bytes(pos))) pos += 1
        if (pos < bytes.length && bytes(pos) == '#'.toByte) {
          while (pos < bytes.length && bytes(pos) != '\n'.toByte) pos += 1
        } else done = true
      }
      // accumulate in Long and bound each token: Int accumulation
      // would silently wrap a declared 4294967297 to 1 instead of
      // rejecting the header as a parse error
      var v = 0L
      val start = pos
      while (pos < bytes.length && bytes(pos) >= '0'.toByte &&
          bytes(pos) <= '9'.toByte) {
        v = v * 10 + (bytes(pos) - '0'.toByte)
        require(v <= Int.MaxValue,
          s"PPM: header integer overflows at byte $pos")
        pos += 1
      }
      require(pos > start, s"PPM: expected integer at byte $pos")
      v.toInt
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(maxval == 255, s"PPM: only maxval 255 supported ($maxval)")
    checkDims(w, h, "PPM")
    require(pos < bytes.length && isWs(bytes(pos)),
      "PPM: single whitespace must separate header from pixel plane")
    pos += 1
    val n = w * h * 3
    require(bytes.length - pos >= n,
      s"PPM: truncated pixel plane (${bytes.length - pos} < $n)")
    val rgb = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
    Image("ppm", w, h, rgb)
  }

  /** 24-bit uncompressed BMP parser: honors the header's pixel-data
    * offset, row padding, and bottom-up vs top-down (negative height)
    * row order. */
  private def decodeBmp(bytes: Array[Byte]): Image = {
    require(bytes.length >= 54, "BMP: truncated header")
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val hRaw = b.getInt(22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    val bitCount = b.getShort(28)
    val compression = b.getInt(30)
    require(bitCount == 24, s"BMP: only 24bpp supported ($bitCount)")
    require(compression == 0, s"BMP: only BI_RGB supported ($compression)")
    checkDims(w, h, "BMP")
    // dataOffset is untrusted too: a negative or in-header offset
    // would pass the truncation check (negative RHS) and surface as
    // an opaque out-of-bounds read in the row loop
    require(dataOffset >= 54 && dataOffset <= bytes.length,
      s"BMP: pixel-data offset $dataOffset outside the file")
    val rowBytes = w * 3
    val stride = rowBytes + (4 - rowBytes % 4) % 4
    require(bytes.length.toLong >= dataOffset.toLong + stride.toLong * h,
      "BMP: truncated pixel data")
    val rgb = new Array[Byte](w * h * 3)
    var row = 0
    while (row < h) {
      val srcY = if (bottomUp) h - 1 - row else row
      val src = dataOffset + srcY * stride
      var x = 0
      while (x < w) {
        val d = (row * w + x) * 3
        rgb(d) = bytes(src + x * 3 + 2)     // R
        rgb(d + 1) = bytes(src + x * 3 + 1) // G
        rgb(d + 2) = bytes(src + x * 3)     // B
        x += 1
      }
      row += 1
    }
    Image("bmp", w, h, rgb)
  }

  /** Aspect-preserving nearest-neighbor thumbnail: out dims are the
    * fit of (w, h) into a `maxSide` box (division-first scale
    * `maxSide/longest`, `round`, floor 1, never upscaled — the exact
    * arithmetic the DuckDB oracle replays), out pixel (ox, oy) samples
    * in pixel (ox·w div ow, oy·h div oh) — integer division, so the
    * sampling grid is cross-engine replayable too. */
  def resizeNearest(img: Image, maxSide: Int): Image = {
    val longest = math.max(img.width, img.height)
    val (ow, oh) =
      if (longest <= maxSide) (img.width, img.height)
      else {
        val scale = maxSide.toDouble / longest
        (math.max(1, math.round(img.width * scale).toInt),
          math.max(1, math.round(img.height * scale).toInt))
      }
    val out = new Array[Byte](ow * oh * 3)
    var oy = 0
    while (oy < oh) {
      // long products: oy·height can pass Int.MaxValue on a legal
      // very-tall image (w=1, h~46M decodes fine under checkDims)
      val iy = (oy.toLong * img.height / oh).toInt
      var ox = 0
      while (ox < ow) {
        val ix = (ox.toLong * img.width / ow).toInt
        val s = (iy * img.width + ix) * 3
        val d = (oy * ow + ox) * 3
        out(d) = img.rgb(s); out(d + 1) = img.rgb(s + 1)
        out(d + 2) = img.rgb(s + 2)
        ox += 1
      }
      oy += 1
    }
    Image(img.format, ow, oh, out)
  }

  /** 8×8 AVERAGE-HASH (aHash) over REAL decoded pixels — the standard
    * perceptual-hash shape (grayscale → 8×8 downsample →
    * mean-threshold → 64 bits), implemented integer-exact so the
    * DuckDB oracle replays it bit-for-bit: the 8×8 grid samples
    * nearest-neighbor (`x·w div 8`, `y·h div 8` — the resize grid at
    * 8×8), gray = (r+g+b) div 3, and bit (y·8+x) is set iff
    * gray·64 > Σgrays (a strict INTEGER comparison — no float mean to
    * drift across engines). Wire format is a 16-hex-char string (two
    * zero-padded 32-bit halves: a signed-long packing would overflow
    * the oracle's BIGINT bit arithmetic at bit 63). */
  def averageHash(img: Image): String = {
    val grays = new Array[Long](64)
    var y = 0
    while (y < 8) {
      val iy = (y.toLong * img.height / 8).toInt
      var x = 0
      while (x < 8) {
        val ix = (x.toLong * img.width / 8).toInt
        val s = (iy * img.width + ix) * 3
        grays(y * 8 + x) = ((img.rgb(s) & 0xff) + (img.rgb(s + 1) & 0xff)
          + (img.rgb(s + 2) & 0xff)) / 3
        x += 1
      }
      y += 1
    }
    packGridHash(grays)
  }

  /** Pack a 64-cell gray grid into the aHash wire format: strict
    * integer `gray·64 > Σgrays` threshold, bit (y·8+x), two
    * zero-padded 32-bit hex halves. ONE definition shared by the
    * image [[averageHash]] and the video per-frame luma hash
    * ([[Multimodal.videoFrameHashAll]]) so the convention — and both
    * DuckDB replays of it — stays bit-identical. */
  def packGridHash(grays: Array[Long]): String = {
    require(grays.length == 64, s"grid must be 8x8 (${grays.length})")
    val sum = grays.sum
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 64) {
      if (grays(i) * 64 > sum) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    f"$hi%08x$lo%08x"
  }

  /** Sum of a pixel buffer's UNSIGNED byte values — the compact
    * cross-engine pixel-content witness the oracle recomputes. */
  def pixelSum(rgb: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < rgb.length) { s += rgb(i) & 0xff; i += 1 }
    s
  }
}
