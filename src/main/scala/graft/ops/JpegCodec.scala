package graft.ops

/** Pure-JVM baseline JPEG codec (ITU-T T.81 / ISO 10918-1, the public
  * spec): a REAL sequential-DCT decoder — marker segment walk,
  * 8-bit quantization tables, canonical Huffman table construction
  * (spec F.2.2.3 mincode/maxcode/valptr), the full entropy-coded
  * MCU scan with DC prediction + AC run/size coding + byte
  * unstuffing + restart markers, dequantization, an exact separable
  * IDCT (StrictMath cosines, so the arithmetic is bit-deterministic
  * across JVMs), subsampled-plane upsampling (4:4:4 / 4:2:2 / 4:2:0),
  * and the JFIF YCbCr→RGB conversion. Crawled images are
  * overwhelmingly JPEG — this makes the magic-sniffed decode path
  * ([[ImageCodec.decode]]) representative of a real media crawl.
  *
  * The ENCODER side is deliberately narrow: it emits grayscale
  * constant-block images (each 8×8 block one value, chroma flat 128)
  * in full 4:2:0 interleaved baseline syntax. JPEG is lossy, but a
  * constant block survives the round trip EXACTLY when the
  * quantization tables are all ones: the block's only nonzero
  * coefficient is DC = 8·(v−128), and IDCT(DC)/8 + 128 = v with no
  * rounding loss — so the DuckDB oracle can replay decoded pixels
  * from the generator arithmetic while the decoder still performs
  * every step of a general baseline decode (the entropy stream
  * carries real per-block DC deltas through real Huffman tables).
  * General AC decoding, ZRL runs, and restart intervals are gated by
  * hand-assembled streams in JpegCodecSpec, independent of this
  * encoder.
  *
  * Scale note: like the other codecs this is row-local, map-shaped
  * work inside [[Multimodal.kernel]] — payloads and sample planes
  * never leave the task; only witness columns travel.
  *
  * Beyond-reference surface: the reference engine has no binary type
  * at all (SURVEY §1.2; reference src/datatypes/mod.rs:14-22).
  */
object JpegCodec {

  // ---- shared tables ---------------------------------------------------

  /** Zigzag order: zigzag(k) = raster index (v*8+u) of scan position k. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.3.1 luminance DC table (the spec's own example table —
    * varied code lengths, so canonical construction is exercised). */
  private val StdDcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcVals: Array[Int] = (0 to 11).toArray

  /** Minimal AC table the encoder declares: one length-2 code for EOB
    * (constant blocks have no AC energy; the file is self-describing
    * so any canonical table is legal JPEG). */
  private val EobAcBits: Array[Int] =
    Array(0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val EobAcVals: Array[Int] = Array(0x00)

  /** Canonical code assignment (spec C.2): codes of length L are
    * consecutive, doubling when the length grows. Returns
    * symbol → (code, length). */
  private def canonicalCodes(bits: Array[Int],
      vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += vals(k) -> ((code, len))
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out.result()
  }

  // ---- encoder ---------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1)); n += len
      while (n >= 8) {
        val b = ((acc >> (n - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        n -= 8
      }
    }
    def flush(): Unit = if (n > 0) { // pad with 1-bits per the spec
      val b = (((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xff).toInt
      out.write(b)
      if (b == 0xff) out.write(0x00)
      n = 0
    }
  }

  private def seg(out: java.io.ByteArrayOutputStream, marker: Int,
      payload: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    val len = payload.length + 2
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(payload, 0, payload.length)
  }

  /** Encode a grayscale CONSTANT-BLOCK image as interleaved baseline
    * 4:2:0 JPEG: dimensions must be multiples of 16; `blockVals` has
    * one 0..255 value per 8×8 luma block, raster order
    * (by·(w/8)+bx). Quant tables are all ones and chroma is flat 128,
    * so decoding reproduces every pixel exactly (see object doc). */
  def encodeGrayBlocks(width: Int, height: Int,
      blockVals: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 &&
      width % 16 == 0 && height % 16 == 0,
      "JPEG encoder: dimensions must be positive multiples of 16")
    val bw = width / 8; val bh = height / 8
    require(blockVals.length == bw * bh,
      s"JPEG encoder: ${blockVals.length} block values != ${bw * bh}")
    require(blockVals.forall(v => v >= 0 && v <= 255),
      "JPEG encoder: block values must be 0..255")
    val out = new java.io.ByteArrayOutputStream(blockVals.length * 4 + 1024)
    out.write(0xff); out.write(0xd8) // SOI
    seg(out, 0xe0, Array[Byte](                        // APP0 JFIF
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: two all-ones tables (id 0 luma, id 1 chroma)
    for (id <- 0 to 1)
      seg(out, 0xdb, (id.toByte +: Array.fill(64)(1.toByte)).toArray)
    // SOF0: 8-bit, 3 components, Y 2x2 q0 / Cb 1x1 q1 / Cr 1x1 q1
    seg(out, 0xc0, Array[Byte](8,
      ((height >> 8) & 0xff).toByte, (height & 0xff).toByte,
      ((width >> 8) & 0xff).toByte, (width & 0xff).toByte,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    // DHT: DC tables (Annex K luma DC for both), minimal EOB AC tables
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit =
      seg(out, 0xc4, (((cls << 4) | id).toByte +:
        (bits.map(_.toByte) ++ vals.map(_.toByte))).toArray)
    dht(0, 0, StdDcBits, StdDcVals); dht(1, 0, EobAcBits, EobAcVals)
    dht(0, 1, StdDcBits, StdDcVals); dht(1, 1, EobAcBits, EobAcVals)
    // SOS: 3 components, Y tables 0/0, chroma 1/1
    seg(out, 0xda, Array[Byte](3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    val dcCodes = canonicalCodes(StdDcBits, StdDcVals)
    val eob = canonicalCodes(EobAcBits, EobAcVals)(0x00)
    val bits = new BitWriter(out)
    def putDc(diff: Int): Unit = {
      val cat = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      val (code, len) = dcCodes(cat)
      bits.put(code, len)
      if (cat > 0)
        bits.put(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
    }
    var predY = 0
    val mcusX = width / 16; val mcusY = height / 16
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        // 4 Y blocks, left-to-right top-to-bottom inside the MCU
        var vy = 0
        while (vy < 2) {
          var vx = 0
          while (vx < 2) {
            val dc = 8 * (blockVals((my * 2 + vy) * bw + mx * 2 + vx)
              - 128)
            putDc(dc - predY); predY = dc
            bits.put(eob._1, eob._2)
            vx += 1
          }
          vy += 1
        }
        // flat chroma: DC diff 0 (category 0), EOB — twice
        val zeroCat = dcCodes(0)
        bits.put(zeroCat._1, zeroCat._2); bits.put(eob._1, eob._2)
        bits.put(zeroCat._1, zeroCat._2); bits.put(eob._1, eob._2)
        mx += 1
      }
      my += 1
    }
    bits.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** AC table for EOB-run coding in progressive scans: the fifteen
    * EOBn symbols (r<<4, r = 0..14), all length-4 canonical codes. */
  private val EobRunAcBits: Array[Int] =
    Array(0, 0, 0, 15, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val EobRunAcVals: Array[Int] = (0 to 14).map(_ << 4).toArray

  /** Encode a grayscale CONSTANT-BLOCK image as PROGRESSIVE (SOF2)
    * JPEG with spectral selection + successive approximation — the
    * scan script a real progressive encoder emits for the DC band:
    *
    *   1. DC first (Ss=0 Se=0 Ah=0 Al=1): Huffman-coded differences
    *      of the coefficient's high bits;
    *   2. AC first (Ss=1 Se=63 Ah=0 Al=0): the whole AC band as EOB
    *      runs (constant blocks have no AC energy — the EOBn coding
    *      real progressive files lean on);
    *   3. DC refinement (Ah=1 Al=0): one raw low bit per block.
    *
    * The DC quantizer is 8 (chroma-free single component), so the
    * quantized DC is exactly v−128 — its low bit VARIES, making the
    * refinement scan non-trivial — and reconstruction is lossless:
    * IDCT((v−128)·8)/8 + 128 = v. Dimensions must be multiples of 8. */
  def encodeGrayProgressive(width: Int, height: Int,
      blockVals: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 &&
      width % 8 == 0 && height % 8 == 0,
      "JPEG encoder: dimensions must be positive multiples of 8")
    val bw = width / 8; val bh = height / 8
    require(blockVals.length == bw * bh,
      s"JPEG encoder: ${blockVals.length} block values != ${bw * bh}")
    require(blockVals.forall(v => v >= 0 && v <= 255),
      "JPEG encoder: block values must be 0..255")
    val out = new java.io.ByteArrayOutputStream(
      blockVals.length * 4 + 1024)
    out.write(0xff); out.write(0xd8) // SOI
    seg(out, 0xe0, Array[Byte](
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT id 0: DC quantizer 8, AC all ones
    seg(out, 0xdb,
      (0.toByte +: (8.toByte +: Array.fill(63)(1.toByte))).toArray)
    // SOF2: 8-bit, 1 component, 1x1, q0
    seg(out, 0xc2, Array[Byte](8,
      ((height >> 8) & 0xff).toByte, (height & 0xff).toByte,
      ((width >> 8) & 0xff).toByte, (width & 0xff).toByte,
      1, 1, 0x11, 0))
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit =
      seg(out, 0xc4, (((cls << 4) | id).toByte +:
        (bits.map(_.toByte) ++ vals.map(_.toByte))).toArray)
    dht(0, 0, StdDcBits, StdDcVals)
    dht(1, 0, EobRunAcBits, EobRunAcVals)
    val dcCodes = canonicalCodes(StdDcBits, StdDcVals)
    val eobCodes = canonicalCodes(EobRunAcBits, EobRunAcVals)
    def sos(ss: Int, se: Int, ah: Int, al: Int): Unit =
      seg(out, 0xda, Array[Byte](1, 1, 0x00,
        ss.toByte, se.toByte, ((ah << 4) | al).toByte))
    // quantized DC per block: (8·(v−128)) / 8 = v − 128
    val dcq = blockVals.map(_ - 128)
    // scan 1: DC first at Al=1 — differences of (dcq >> 1)
    sos(0, 0, 0, 1)
    var bits = new BitWriter(out)
    var pred = 0
    dcq.foreach { dc =>
      val hi = dc >> 1
      val diff = hi - pred
      pred = hi
      val cat = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      val (code, len) = dcCodes(cat)
      bits.put(code, len)
      if (cat > 0)
        bits.put(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
    }
    bits.flush()
    // scan 2: AC first 1..63 at Al=0 — all-zero band as EOB runs
    sos(1, 63, 0, 0)
    bits = new BitWriter(out)
    var remaining = blockVals.length
    while (remaining > 0) {
      var r = 0
      while (r < 14 && (2 << r) <= remaining) r += 1 // 2^r <= remaining
      val covered = math.min(remaining, (1 << r) + ((1 << r) - 1))
      val extra = covered - (1 << r)
      val (code, len) = eobCodes(r << 4)
      bits.put(code, len)
      if (r > 0) bits.put(extra, r)
      remaining -= covered
    }
    bits.flush()
    // scan 3: DC refinement Ah=1 Al=0 — the raw low bit per block
    sos(0, 0, 1, 0)
    bits = new BitWriter(out)
    dcq.foreach(dc => bits.put(dc & 1, 1))
    bits.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  // ---- decoder ---------------------------------------------------------

  /** Decode-side Huffman table: spec F.2.2.3 structures. */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k; minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        } else maxCode(l) = -1
        code <<= 1; l += 1
      }
      require(k == vals.length, "JPEG: malformed DHT counts")
    }
    def value(idx: Int): Int = vals(idx)
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def readBit(): Int = {
      if (n == 0) {
        require(pos < bytes.length, "JPEG: truncated entropy stream")
        val b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < bytes.length, "JPEG: truncated entropy stream")
          val b2 = bytes(pos) & 0xff
          require(b2 == 0x00,
            f"JPEG: unexpected marker 0xff$b2%02x inside entropy stream")
          pos += 1
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def readBits(len: Int): Int = {
      var v = 0; var i = 0
      while (i < len) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def byteAlign(): Unit = { n = 0 }
    /** Consume an expected RSTn marker at a restart boundary. */
    def expectRst(which: Int): Unit = {
      byteAlign()
      require(pos + 1 < bytes.length &&
          (bytes(pos) & 0xff) == 0xff &&
          (bytes(pos + 1) & 0xff) == 0xd0 + which,
        s"JPEG: expected RST$which marker at byte $pos")
      pos += 2
    }
  }

  private def decodeHuff(r: BitReader, t: HuffTable): Int = {
    var code = r.readBit()
    var l = 1
    while (t.maxCode(l) < 0 || code > t.maxCode(l)) {
      code = (code << 1) | r.readBit()
      l += 1
      require(l <= 16, "JPEG: invalid Huffman code in entropy stream")
    }
    t.value(t.valPtr(l) + code - t.minCode(l))
  }

  /** EXTEND (spec F.2.2.1): map `cat` magnitude bits to a signed
    * coefficient. */
  private def extend(v: Int, cat: Int): Int =
    if (cat == 0) 0
    else if (v < (1 << (cat - 1))) v - (1 << cat) + 1
    else v

  /** Precomputed StrictMath cosine basis: cosT(u)(x) =
    * cos((2x+1)·u·π/16), with C(u) folded in — deterministic across
    * JVMs (StrictMath, not platform-intrinsic Math). */
  private val CosT: Array[Array[Double]] = Array.tabulate(8, 8) {
    (u, x) =>
      val c = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
      c * StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)
  }

  /** Exact separable 8×8 IDCT + level shift + clamp: coef is raster
    * (v*8+u) dequantized; out gets 0..255 samples. */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    // rows: t(v)(x) = Σu C(u) F(u,v) cosT(u)(x)
    val t = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += CosT(u)(x) * coef(v * 8 + u); u += 1 }
        t(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    // columns: s(x,y) = 1/4 Σv C(v) t(v)(x) cosT(v)(y)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += CosT(vv)(y) * t(vv * 8 + x); vv += 1 }
        val px = StrictMath.round(s / 4.0 + 128.0).toInt
        out(y * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        x += 1
      }
      y += 1
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTable: HuffTable = _
    var acTable: HuffTable = _
    var pred: Int = 0
    var plane: Array[Int] = _ // blocksX*8 wide
    var planeW: Int = 0
    // progressive state: accumulated (still-quantized) coefficients,
    // raster order within each 64-slot block, interleaved-geometry
    // block grid (blocksW × blocksH), plus the non-interleaved block
    // dims used by single-component scans
    var coefs: Array[Int] = _
    var blocksW: Int = 0
    var blocksH: Int = 0
    var niW: Int = 0
    var niH: Int = 0
  }

  /** Decode a baseline sequential JPEG (SOF0, 8-bit, Huffman,
    * interleaved single scan, grayscale or YCbCr, sampling factors
    * 1..2, restart intervals honored). Every header field is
    * UNTRUSTED: segment lengths are bounds-checked, dimensions gated
    * before allocation, table references must resolve, the entropy
    * stream must not run past the data, and trailing bytes after EOI
    * are corruption (the [[PngCodec]] posture). */
  def decode(bytes: Array[Byte]): ImageCodec.Image = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8,
      "JPEG: bad magic (missing SOI)")
    var pos = 2
    val qtables = new Array[Array[Int]](4)
    val htables =
      scala.collection.mutable.Map.empty[(Int, Int), HuffTable]
    var comps: Array[Component] = null
    var w = -1; var h = -1
    var restartInterval = 0
    var sawEoi = false
    var progressive = false

    def u16(at: Int): Int =
      ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)

    // shared segment-length read with the bounds guard EVERY marker
    // case needs: truncation at a marker boundary must be the codec's
    // own parse error, never an ArrayIndexOutOfBoundsException
    def segLen(marker: String): Int = {
      require(pos + 2 <= bytes.length,
        s"JPEG: truncated $marker segment header")
      val len = u16(pos)
      require(len >= 2 && pos + len <= bytes.length,
        s"JPEG: $marker length $len outside the file")
      len
    }

    while (!sawEoi) {
      require(pos + 1 < bytes.length, "JPEG: truncated marker stream")
      require((bytes(pos) & 0xff) == 0xff,
        f"JPEG: expected marker at byte $pos, got 0x${bytes(pos)}%02x")
      while (pos + 1 < bytes.length && (bytes(pos + 1) & 0xff) == 0xff)
        pos += 1 // fill bytes
      val marker = bytes(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xd9 => sawEoi = true
        case m if m >= 0xe0 && m <= 0xef || m == 0xfe => // APPn / COM
          pos += segLen("APPn/COM")
        case 0xdb => // DQT
          val len = segLen("DQT")
          var p = pos + 2
          while (p < pos + len) {
            val pq = (bytes(p) & 0xff) >> 4
            val tq = bytes(p) & 0x0f
            require(pq == 0, "JPEG: only 8-bit quantization supported")
            require(p + 65 <= pos + len, "JPEG: truncated DQT table")
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(i) = bytes(p + 1 + i) & 0xff; i += 1 }
            qtables(tq) = t
            p += 65
          }
          pos += len
        case 0xc4 => // DHT
          val len = segLen("DHT")
          var p = pos + 2
          while (p < pos + len) {
            val cls = (bytes(p) & 0xff) >> 4
            val id = bytes(p) & 0x0f
            require(cls <= 1 && id <= 3, "JPEG: bad DHT class/id")
            require(p + 17 <= pos + len, "JPEG: truncated DHT counts")
            val bits17 = Array.tabulate(16)(i => bytes(p + 1 + i) & 0xff)
            val n = bits17.sum
            require(n <= 256 && p + 17 + n <= pos + len,
              "JPEG: truncated DHT values")
            val vals = Array.tabulate(n)(i => bytes(p + 17 + i) & 0xff)
            htables((cls, id)) = new HuffTable(bits17, vals)
            p += 17 + n
          }
          pos += len
        case m if m == 0xc0 || m == 0xc2 => // SOF0 baseline / SOF2 progressive
          progressive = m == 0xc2
          val sofName = if (progressive) "SOF2" else "SOF0"
          val len = segLen(sofName)
          // length gate FIRST: a malformed SOF with len < 8 at
          // end-of-file must be the codec's own parse error, never an
          // ArrayIndexOutOfBoundsException from reading the precision
          // byte past the buffer
          require(len >= 8, s"JPEG: truncated $sofName segment ($len)")
          require(bytes(pos + 2) == 8,
            "JPEG: only 8-bit precision supported")
          h = u16(pos + 3); w = u16(pos + 5)
          // the dimension gate must bound ALLOCATION, not just the
          // pixel count: the baseline worst case (4:4:4) allocates
          // three full-resolution Int sample planes (3·w·h·4 bytes)
          // plus the w·h·3 RGB buffer = 15·w·h transient bytes; the
          // progressive path additionally holds the accumulated
          // coefficient arrays (another 3·w·h·4) → 27·w·h. A
          // ~200-byte crafted header can otherwise drive multi-GB
          // allocations before any entropy byte is read, and an OOM
          // is FATAL by the quarantine contract, so a hostile header
          // has to die here as a parse error sized against the REAL
          // footprint
          val footprint = if (progressive) 27L else 15L
          require(w > 0 && h > 0 && w.toLong * h * footprint <= (1L << 27),
            s"JPEG: unreasonable dimensions $w x $h")
          val nc = bytes(pos + 7) & 0xff
          require(nc == 1 || nc == 3,
            s"JPEG: only 1 or 3 components supported ($nc)")
          require(len == 8 + 3 * nc, s"JPEG: malformed $sofName length")
          comps = Array.tabulate(nc) { i =>
            val b = pos + 8 + 3 * i
            val hv = bytes(b + 1) & 0xff
            // T.81: an Ns=1 scan is NON-interleaved with MCU = one
            // data unit — a single-component frame's declared
            // sampling factors do not shape the scan, so normalize
            // them to 1x1 instead of mis-decoding a legal grayscale
            // 2x2 file in interleaved order (scrambled pixels, no
            // error — the silent-wrong-pixel case the fail-loud
            // contract forbids)
            val c =
              if (nc == 1) Component(bytes(b) & 0xff, 1, 1,
                bytes(b + 2) & 0x0f)
              else Component(bytes(b) & 0xff, hv >> 4, hv & 0x0f,
                bytes(b + 2) & 0x0f)
            require(c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2,
              s"JPEG: unsupported sampling factor ${c.h}x${c.v}")
            c
          }
          pos += len
        case m if m == 0xc1 || m == 0xc3 ||
            (m >= 0xc5 && m <= 0xc7) || (m >= 0xc9 && m <= 0xcf
              && m != 0xcc) =>
          throw new IllegalArgumentException(
            f"JPEG: only baseline (SOF0) and progressive (SOF2) " +
              f"supported (marker 0xff$m%02x)")
        case 0xdd => // DRI
          val len = segLen("DRI")
          require(len == 4, "JPEG: malformed DRI")
          restartInterval = u16(pos + 2)
          pos += len
        case 0xda => // SOS: decode the scan, then continue the walk
          require(comps != null, "JPEG: SOS before SOF0")
          val len = segLen("SOS")
          require(len >= 3, s"JPEG: truncated SOS header ($len)")
          val ns = bytes(pos + 2) & 0xff
          require(len == 6 + 2 * ns, "JPEG: malformed SOS length")
          val ss = bytes(pos + 3 + 2 * ns) & 0xff
          val se = bytes(pos + 4 + 2 * ns) & 0xff
          val ahAl = bytes(pos + 5 + 2 * ns) & 0xff
          val ah = ahAl >> 4; val al = ahAl & 0x0f
          // band/approximation sanity BEFORE table resolution: a
          // hostile scan header is diagnosed as such, not as a
          // missing table it would never have read
          if (progressive) {
            require(se <= 63 && ss <= se,
              s"JPEG: invalid spectral band $ss..$se")
            require(al <= 13 && (ah == 0 || ah == al + 1),
              s"JPEG: invalid successive approximation Ah=$ah Al=$al")
            if (ss == 0)
              require(se == 0,
                "JPEG: progressive DC scan must have Se=0")
            else require(ns == 1,
              "JPEG: progressive AC scans are single-component")
          }
          val scanComps = new Array[Component](ns)
          var i = 0
          while (i < ns) {
            val cs = bytes(pos + 3 + 2 * i) & 0xff
            val td = (bytes(pos + 4 + 2 * i) & 0xff) >> 4
            val ta = bytes(pos + 4 + 2 * i) & 0x0f
            val c = comps.find(_.id == cs).getOrElse(
              throw new IllegalArgumentException(
                s"JPEG: scan references unknown component $cs"))
            // resolve exactly the tables this scan will read: DC
            // refinement is raw bits (no table), DC-only scans need
            // no AC table, AC scans need no DC table
            if (ss == 0 && ah == 0)
              c.dcTable = htables.getOrElse((0, td),
                throw new IllegalArgumentException(
                  s"JPEG: missing DC Huffman table $td"))
            if (se > 0)
              c.acTable = htables.getOrElse((1, ta),
                throw new IllegalArgumentException(
                  s"JPEG: missing AC Huffman table $ta"))
            scanComps(i) = c
            i += 1
          }
          pos += len
          if (!progressive) {
            require(ns == comps.length,
              "JPEG: scan must cover all frame components (interleaved)")
            require(ss == 0 && se == 63 && ah == 0 && al == 0,
              s"JPEG: baseline scan must cover band 0..63 " +
                s"(got $ss..$se, Ah=$ah Al=$al)")
            pos = decodeScan(bytes, pos, w, h, comps, qtables,
              restartInterval)
          } else
            pos = decodeProgScan(bytes, pos, w, h, comps, scanComps,
              ss, se, ah, al, restartInterval)
        case m =>
          throw new IllegalArgumentException(
            f"JPEG: unsupported marker 0xff$m%02x")
      }
    }
    require(pos == bytes.length,
      s"JPEG: ${bytes.length - pos} trailing bytes after EOI")
    if (progressive) finishProgressive(comps, qtables)
    require(comps != null && comps.forall(_.plane != null),
      "JPEG: no decoded scan")
    toRgb(w, h, comps)
  }

  /** Decode one PROGRESSIVE scan (T.81 G.2): spectral selection
    * (Ss..Se band per scan) + successive approximation (first pass at
    * Al, refinement passes adding one bit). DC scans may interleave
    * all frame components; AC scans are single-component by spec.
    * Coefficients accumulate still-quantized in each component's
    * `coefs`; [[finishProgressive]] dequantizes + IDCTs once at EOI. */
  private def decodeProgScan(bytes: Array[Byte], start: Int, w: Int,
      h: Int, frameComps: Array[Component],
      scanComps: Array[Component], ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int): Int = {
    require(ss >= 0 && se <= 63 && ss <= se,
      s"JPEG: invalid spectral band $ss..$se")
    require(al <= 13 && (ah == 0 || ah == al + 1),
      s"JPEG: invalid successive approximation Ah=$ah Al=$al")
    if (ss == 0)
      require(se == 0, "JPEG: progressive DC scan must have Se=0")
    else
      require(scanComps.length == 1,
        "JPEG: progressive AC scans are single-component")
    val hMax = frameComps.map(_.h).max
    val vMax = frameComps.map(_.v).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    // allocate accumulated-coefficient grids on first use
    frameComps.foreach { c =>
      if (c.coefs == null) {
        c.blocksW = mcusX * c.h
        c.blocksH = mcusY * c.v
        // non-interleaved geometry: ceil over the component's OWN
        // scaled dimensions (T.81 A.2.2)
        c.niW = (w * c.h + 8 * hMax - 1) / (8 * hMax)
        c.niH = (h * c.v + 8 * vMax - 1) / (8 * vMax)
        c.coefs = new Array[Int](c.blocksW * c.blocksH * 64)
        c.pred = 0
      }
    }
    val r = new BitReader(bytes, start)
    var eobrun = 0
    if (ss == 0) scanComps.foreach(_.pred = 0)
    def refineNonzero(coef: Array[Int], off: Int, from: Int): Unit = {
      val p1 = 1 << al
      var k = from
      while (k <= se) {
        val idx = off + Zigzag(k)
        if (coef(idx) != 0 && r.readBit() == 1 &&
            (coef(idx) & p1) == 0)
          coef(idx) += (if (coef(idx) >= 0) p1 else -p1)
        k += 1
      }
    }
    def decodeBlock(c: Component, blockIdx: Int): Unit = {
      val off = blockIdx * 64
      if (ss == 0) {
        if (ah == 0) { // DC first
          val cat = decodeHuff(r, c.dcTable)
          require(cat <= 15, "JPEG: invalid DC category")
          c.pred += extend(r.readBits(cat), cat)
          c.coefs(off) = c.pred << al
        } else // DC refinement: one raw bit
          c.coefs(off) |= r.readBit() << al
      } else if (ah == 0) { // AC first pass at this Al
        if (eobrun > 0) eobrun -= 1
        else {
          var k = ss
          var done = false
          while (!done && k <= se) {
            val rs = decodeHuff(r, c.acTable)
            val run = rs >> 4; val size = rs & 0x0f
            if (size == 0) {
              if (run == 15) {
                k += 16
                require(k <= se + 1,
                  "JPEG: ZRL run past the band end")
              } else {
                eobrun = (1 << run) - 1 +
                  (if (run > 0) r.readBits(run) else 0)
                done = true
              }
            } else {
              k += run
              require(k <= se, "JPEG: AC run past the band end")
              c.coefs(off + Zigzag(k)) =
                extend(r.readBits(size), size) << al
              k += 1
            }
          }
        }
      } else { // AC refinement (T.81 G.1.2.3)
        // eobrun convention in REFINEMENT scans counts the current
        // block too (an EOB block still carries correction bits for
        // its nonzero history — the phase below runs for it): a
        // decoded EOBn sets eobrun = 2^r + extra, and every block the
        // run covers refines its band then decrements
        val p1 = 1 << al
        var k = ss
        if (eobrun == 0) {
          var done = false
          while (!done && k <= se) {
            val rs = decodeHuff(r, c.acTable)
            var run = rs >> 4; val size = rs & 0x0f
            var newval = 0
            if (size == 0) {
              if (run < 15) {
                eobrun = (1 << run) +
                  (if (run > 0) r.readBits(run) else 0)
                done = true
              }
              // run == 15 (ZRL): pass 16 zero-history positions below
            } else {
              require(size == 1,
                "JPEG: invalid AC refinement magnitude")
              newval = if (r.readBit() == 1) p1 else -p1
            }
            if (!done) {
              // advance over `run` zero-history coefficients,
              // emitting correction bits for nonzero-history ones; a
              // ZRL (or trailing run) may legitimately end AT the
              // band end — only PLACING a new value past it is
              // corruption
              var advancing = true
              while (advancing && k <= se) {
                val idx = off + Zigzag(k)
                if (c.coefs(idx) != 0) {
                  if (r.readBit() == 1 && (c.coefs(idx) & p1) == 0)
                    c.coefs(idx) +=
                      (if (c.coefs(idx) >= 0) p1 else -p1)
                  k += 1
                } else if (run == 0) advancing = false
                else { run -= 1; k += 1 }
              }
              if (newval != 0) {
                require(k <= se,
                  "JPEG: AC refinement newval past the band end")
                c.coefs(off + Zigzag(k)) = newval
              }
              k += 1
            }
          }
        }
        if (eobrun > 0) { // EOB phase: correction bits only
          refineNonzero(c.coefs, off, k)
          eobrun -= 1
        }
      }
    }
    def restartBoundary(unit: Int): Unit =
      if (restartInterval > 0 && unit > 0 &&
          unit % restartInterval == 0) {
        r.expectRst((unit / restartInterval - 1) % 8)
        scanComps.foreach(_.pred = 0)
        eobrun = 0
      }
    if (scanComps.length > 1) {
      // interleaved DC scan: MCU order (an Ns=1 scan is always
      // non-interleaved, T.81 A.2.2 — even for DC)
      var mcu = 0
      val total = mcusX * mcusY
      while (mcu < total) {
        restartBoundary(mcu)
        val mx = mcu % mcusX; val my = mcu / mcusX
        scanComps.foreach { c =>
          var vy = 0
          while (vy < c.v) {
            var vx = 0
            while (vx < c.h) {
              decodeBlock(c,
                (my * c.v + vy) * c.blocksW + mx * c.h + vx)
              vx += 1
            }
            vy += 1
          }
        }
        mcu += 1
      }
    } else {
      // non-interleaved: one component, its own block raster
      val c = scanComps(0)
      var unit = 0
      val total = c.niW * c.niH
      while (unit < total) {
        restartBoundary(unit)
        val bx = unit % c.niW; val by = unit / c.niW
        decodeBlock(c, by * c.blocksW + bx)
        unit += 1
      }
    }
    r.byteAlign()
    r.pos
  }

  /** Dequantize the accumulated progressive coefficients and IDCT
    * every block into the component sample planes (freed as we go —
    * the footprint the SOF2 allocation gate sizes against). */
  private def finishProgressive(comps: Array[Component],
      qtables: Array[Array[Int]]): Unit = {
    // q tables arrive in zigzag order; precompute raster-indexed
    val qRaster = new Array[Array[Int]](4)
    comps.foreach { c =>
      require(c.coefs != null, "JPEG: no decoded scan")
      require(qtables(c.tq) != null,
        s"JPEG: missing quantization table ${c.tq}")
      if (qRaster(c.tq) == null) {
        val q = qtables(c.tq)
        val qr = new Array[Int](64)
        var k = 0
        while (k < 64) { qr(Zigzag(k)) = q(k); k += 1 }
        qRaster(c.tq) = qr
      }
      val qr = qRaster(c.tq)
      c.planeW = c.blocksW * 8
      c.plane = new Array[Int](c.planeW * c.blocksH * 8)
      val tmp = new Array[Int](64)
      val px = new Array[Int](64)
      var by = 0
      while (by < c.blocksH) {
        var bx = 0
        while (bx < c.blocksW) {
          val off = (by * c.blocksW + bx) * 64
          var i = 0
          while (i < 64) { tmp(i) = c.coefs(off + i) * qr(i); i += 1 }
          idct(tmp, px)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              c.plane((by * 8 + yy) * c.planeW + bx * 8 + xx) =
                px(yy * 8 + xx)
              xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      c.coefs = null // release before the next component / RGB stage
    }
  }

  /** Entropy-decode one interleaved scan; returns the position just
    * past the scan data. */
  private def decodeScan(bytes: Array[Byte], start: Int, w: Int,
      h: Int, comps: Array[Component], qtables: Array[Array[Int]],
      restartInterval: Int): Int = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { c =>
      require(qtables(c.tq) != null,
        s"JPEG: missing quantization table ${c.tq}")
      c.planeW = mcusX * c.h * 8
      c.plane = new Array[Int](c.planeW * mcusY * c.v * 8)
      c.pred = 0
    }
    val r = new BitReader(bytes, start)
    val zz = new Array[Int](64)
    val px = new Array[Int](64)
    var mcu = 0
    var rstIdx = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 &&
          mcu % restartInterval == 0) {
        r.expectRst(rstIdx % 8)
        rstIdx += 1
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      comps.foreach { c =>
        val q = qtables(c.tq)
        var vy = 0
        while (vy < c.v) {
          var vx = 0
          while (vx < c.h) {
            java.util.Arrays.fill(zz, 0)
            // DC
            val cat = decodeHuff(r, c.dcTable)
            require(cat <= 15, "JPEG: invalid DC category")
            c.pred += extend(r.readBits(cat), cat)
            zz(Zigzag(0)) = c.pred * q(0)
            // AC run/size
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = decodeHuff(r, c.acTable)
              val run = rs >> 4; val size = rs & 0x0f
              if (size == 0) {
                if (run == 15) { // ZRL: sixteen zeros
                  k += 16
                  require(k <= 64,
                    "JPEG: ZRL run past the end of the block")
                } else eob = true
              } else {
                k += run
                require(k < 64,
                  "JPEG: AC run past the end of the block")
                zz(Zigzag(k)) = extend(r.readBits(size), size) * q(k)
                k += 1
              }
            }
            idct(zz, px)
            // place into the component plane
            val bx = (mx * c.h + vx) * 8
            val by = (my * c.v + vy) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                c.plane((by + yy) * c.planeW + bx + xx) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            vx += 1
          }
          vy += 1
        }
      }
      mcu += 1
    }
    r.byteAlign()
    r.pos
  }

  /** Upsample (nearest, the JFIF convention) + YCbCr→RGB (or
    * grayscale replication for 1-component frames). */
  private def toRgb(w: Int, h: Int,
      comps: Array[Component]): ImageCodec.Image = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val rgb = new Array[Byte](w * h * 3)
    def sample(c: Component, x: Int, y: Int): Int =
      c.plane((y * c.v / vMax) * c.planeW + (x * c.h / hMax))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 3
        if (comps.length == 1) {
          val g = sample(comps(0), x, y).toByte
          rgb(d) = g; rgb(d + 1) = g; rgb(d + 2) = g
        } else {
          val yy = sample(comps(0), x, y)
          val cb = sample(comps(1), x, y) - 128
          val cr = sample(comps(2), x, y) - 128
          def clamp(v: Long): Byte =
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          // JFIF conversion in 16.16 fixed point: integer-exact and
          // engine-replayable (no double rounding ambiguity)
          rgb(d) = clamp((yy.toLong << 16) + 91881L * cr + 32768 >> 16)
          rgb(d + 1) = clamp(
            (yy.toLong << 16) - 22554L * cb - 46802L * cr + 32768 >> 16)
          rgb(d + 2) = clamp((yy.toLong << 16) + 116130L * cb
            + 32768 >> 16)
        }
        x += 1
      }
      y += 1
    }
    ImageCodec.Image("jpeg", w, h, rgb)
  }
}
