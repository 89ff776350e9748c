package graft.ops

/** Pure-JVM POSIX ustar (tar) codec — the container multimodal
  * training shards ship in (the WebDataset convention: one archive
  * holds each sample's members side by side, e.g. `id.txt` +
  * `id.ppm`). Public format: 512-byte headers (name, octal size,
  * checksum, typeflag, `ustar` magic), data padded to 512, two zero
  * blocks at the end.
  *
  * The decoder is a real archive walk: header checksum VERIFIED per
  * member (a flipped byte anywhere in a header is a parse error),
  * octal size parsing with bounds checks against the file, 512-byte
  * data padding honored, end-of-archive zero blocks required. Sizes
  * and names are untrusted input.
  *
  * Scale note: shard decode is row-local, map-shaped work in the same
  * kernel as the media codecs ([[Multimodal.kernel]]); member bytes
  * never leave the task — only witness columns travel.
  *
  * Beyond-reference surface: the reference engine has no binary type
  * at all (SURVEY §1.2; reference src/datatypes/mod.rs:14-22).
  */
object TarCodec {

  private val BlockSize = 512

  private def octal(v: Long, width: Int): Array[Byte] = {
    // width-1 octal digits, zero-padded, NUL-terminated (ustar)
    val s = java.lang.Long.toOctalString(v)
    val pad = "0" * (width - 1 - s.length) + s
    (pad + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Encode members as a POSIX ustar archive (regular files only). */
  def encode(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      val nameBytes = name.getBytes(
        java.nio.charset.StandardCharsets.US_ASCII)
      require(nameBytes.length <= 100, s"tar: name too long: $name")
      val h = new Array[Byte](BlockSize)
      System.arraycopy(nameBytes, 0, h, 0, nameBytes.length)
      System.arraycopy(octal(420, 8), 0, h, 100, 8)      // mode 0644
      System.arraycopy(octal(0, 8), 0, h, 108, 8)        // uid
      System.arraycopy(octal(0, 8), 0, h, 116, 8)        // gid
      System.arraycopy(octal(data.length.toLong, 12), 0, h, 124, 12)
      System.arraycopy(octal(0, 12), 0, h, 136, 12)      // mtime
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)     // chksum blanks
      h(156) = '0'.toByte                                // regular file
      System.arraycopy(("ustar\u0000" + "00").getBytes("US-ASCII"),
        0, h, 257, 8)
      var sum = 0L
      var i = 0
      while (i < BlockSize) { sum += h(i) & 0xff; i += 1 }
      // 6 octal digits, NUL, space — the historical layout
      val cs = java.lang.Long.toOctalString(sum)
      val csPad = "0" * (6 - cs.length) + cs
      System.arraycopy((csPad + "\u0000 ").getBytes("US-ASCII"),
        0, h, 148, 8)
      out.write(h, 0, BlockSize)
      out.write(data, 0, data.length)
      val pad = (BlockSize - data.length % BlockSize) % BlockSize
      out.write(new Array[Byte](pad), 0, pad)
    }
    out.write(new Array[Byte](2 * BlockSize), 0, 2 * BlockSize)
    out.toByteArray
  }

  /** Decode an archive to its regular-file members, in order.
    * Headers are UNTRUSTED: the checksum is verified per member,
    * sizes are bounds-checked, and the archive must terminate with
    * zero blocks (a truncated shard fails loud, never yields a
    * partial member). */
  def decode(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val members = scala.collection.mutable.ArrayBuffer
      .empty[(String, Array[Byte])]
    var pos = 0
    var done = false
    while (!done) {
      require(bytes.length - pos >= BlockSize,
        s"tar: truncated header at byte $pos")
      if ((0 until BlockSize).forall(i => bytes(pos + i) == 0)) {
        // end-of-archive: require the second zero block too
        require(bytes.length - pos >= 2 * BlockSize &&
          (BlockSize until 2 * BlockSize).forall(i => bytes(pos + i) == 0),
          "tar: missing second end-of-archive block")
        done = true
      } else {
        // verify checksum: header bytes with the chksum field blanked
        var sum = 0L
        var i = 0
        while (i < BlockSize) {
          sum += (if (i >= 148 && i < 156) ' '.toByte
                  else bytes(pos + i)) & 0xff
          i += 1
        }
        val stored = parseOctal(bytes, pos + 148, 8)
        require(stored == sum,
          s"tar: header checksum mismatch at byte $pos " +
            s"(stored $stored, computed $sum)")
        var nameEnd = pos
        while (nameEnd < pos + 100 && bytes(nameEnd) != 0) nameEnd += 1
        val base = new String(bytes, pos, nameEnd - pos,
          java.nio.charset.StandardCharsets.US_ASCII)
        // ustar prefix field (offset 345, 155 bytes): long paths store
        // their leading directories here; ignoring it would silently
        // TRUNCATE member names on foreign archives
        // POSIX ustar only: magic "ustar\0" + version "00". Old-GNU
        // archives share the first five magic bytes ("ustar  \0") but
        // store atime/ctime at offset 345 — treating those bytes as a
        // path prefix would silently decode bogus member names, the
        // silent-wrong-output case this codec family forbids.
        val magic = new String(bytes, pos + 257, 5,
          java.nio.charset.StandardCharsets.US_ASCII)
        val posixUstar = magic == "ustar" && bytes(pos + 262) == 0 &&
          bytes(pos + 263) == '0'.toByte && bytes(pos + 264) == '0'.toByte
        var preEnd = pos + 345
        while (preEnd < pos + 345 + 155 && bytes(preEnd) != 0) preEnd += 1
        val name =
          if (posixUstar && preEnd > pos + 345)
            new String(bytes, pos + 345, preEnd - (pos + 345),
              java.nio.charset.StandardCharsets.US_ASCII) + "/" + base
          else base
        val size = parseOctal(bytes, pos + 124, 12)
        require(size >= 0 && size <= Int.MaxValue.toLong,
          s"tar: unreasonable member size $size")
        val typeflag = bytes(pos + 156)
        val dataStart = pos + BlockSize
        require(bytes.length.toLong - dataStart >= size,
          s"tar: truncated member '$name' (need $size bytes)")
        if (typeflag == '0'.toByte || typeflag == 0.toByte) {
          members += name -> java.util.Arrays.copyOfRange(
            bytes, dataStart, dataStart + size.toInt)
        } // directories/links: skipped (checksum still verified)
        val padded = (size + BlockSize - 1) / BlockSize * BlockSize
        pos = dataStart + padded.toInt
      }
    }
    members.toSeq
  }

  /** Parse an octal field (digits until NUL/space), leading blanks
    * tolerated per the spec. */
  private def parseOctal(bytes: Array[Byte], at: Int, len: Int): Long = {
    var i = at
    val end = at + len
    while (i < end && bytes(i) == ' '.toByte) i += 1
    var v = 0L
    var sawDigit = false
    while (i < end && bytes(i) >= '0'.toByte && bytes(i) <= '7'.toByte) {
      v = v * 8 + (bytes(i) - '0'.toByte)
      require(v >= 0, "tar: octal field overflows")
      sawDigit = true
      i += 1
    }
    require(sawDigit, s"tar: empty octal field at byte $at")
    v
  }
}
