package graft.ops

/** Pure-JVM YUV4MPEG2 (Y4M) video codec — the public uncompressed
  * interchange format (plain-ASCII stream header `YUV4MPEG2 W.. H..
  * F..:.. ...`, then `FRAME\n` markers each followed by one planar
  * 4:2:0 YCbCr picture: a w·h luma plane and two (w/2)·(h/2) chroma
  * planes). Completes the round-11 real-codec story across
  * modalities: image ([[ImageCodec]] / [[PngCodec]]), audio
  * ([[AudioCodec]]), video (this).
  *
  * The decoder is a real container parse: header tokenization with
  * required/unknown-tag handling, fixed-size frame extraction,
  * fail-loud truncation and junk detection — dimensions and frame
  * counts are untrusted input. Per-frame features (luma / chroma
  * plane byte sums) are integer-exact, so the DuckDB oracle replays
  * them from the deterministic frame generator.
  *
  * Scale note: decode + per-frame featurize is row-local, map-shaped
  * work in the same kernel as the other codecs
  * ([[Multimodal.kernel]]); frame buffers never leave the task — only
  * (frame, witness) rows travel.
  *
  * Beyond-reference surface: the reference engine has no binary type
  * at all (SURVEY §1.2; reference src/datatypes/mod.rs:14-22).
  */
object VideoCodec {

  /** One decoded stream: frames are full planar 4:2:0 buffers
    * (w·h luma bytes, then two (w/2)·(h/2) chroma planes). */
  final case class Video(width: Int, height: Int, fpsNum: Int,
      fpsDen: Int, frames: Array[Array[Byte]])

  /** Planar 4:2:0 frame size for even dimensions. */
  def frameSize(w: Int, h: Int): Int = w * h + 2 * ((w / 2) * (h / 2))

  /** Encode as Y4M: `YUV4MPEG2 W<w> H<h> F<n>:<d> Ip A1:1
    * C420jpeg\n` then `FRAME\n` + planar data per frame. */
  def encodeY4m(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      "Y4M: 4:2:0 needs positive even dimensions")
    require(fpsNum > 0 && fpsDen > 0, "Y4M: bad frame rate")
    val sz = frameSize(width, height)
    frames.foreach(f => require(f.length == sz,
      s"Y4M: frame buffer ${f.length} != $sz"))
    val header =
      s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 C420jpeg\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val marker = "FRAME\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream(
      header.length + frames.size * (marker.length + sz))
    out.write(header, 0, header.length)
    frames.foreach { f =>
      out.write(marker, 0, marker.length)
      out.write(f, 0, sz)
    }
    out.toByteArray
  }

  /** Decode a Y4M stream. The header is UNTRUSTED: W/H/F are
    * required and validated (positive, even, frame size fits Int),
    * the colourspace tag must be a 4:2:0 variant (absent defaults to
    * C420jpeg per the spec), unknown tags (X metadata, interlacing,
    * aspect) are tolerated; every `FRAME` must carry a complete
    * picture and anything but a FRAME marker between pictures is a
    * parse error, not a skip. */
  def decodeY4m(bytes: Array[Byte]): Video = {
    val magic = "YUV4MPEG2"
    require(bytes.length > magic.length &&
      new String(bytes, 0, magic.length,
        java.nio.charset.StandardCharsets.US_ASCII) == magic,
      "Y4M: bad magic")
    var nl = magic.length
    while (nl < bytes.length && bytes(nl) != '\n'.toByte) nl += 1
    require(nl < bytes.length, "Y4M: unterminated stream header")
    val header = new String(bytes, 0, nl,
      java.nio.charset.StandardCharsets.US_ASCII)
    var w = -1; var h = -1; var fn = -1; var fd = -1
    header.split(' ').drop(1).filter(_.nonEmpty).foreach { tag =>
      (tag.charAt(0), tag.substring(1)) match {
        case ('W', v) => w = v.toInt
        case ('H', v) => h = v.toInt
        case ('F', v) =>
          val parts = v.split(':')
          require(parts.length == 2, s"Y4M: malformed frame rate F$v")
          fn = parts(0).toInt; fd = parts(1).toInt
        case ('C', v) =>
          require(v.startsWith("420"),
            s"Y4M: only 4:2:0 colourspace supported (C$v)")
        case _ => () // Ip / A1:1 / Xcomment ...: tolerated
      }
    }
    require(w > 0 && h > 0 && w % 2 == 0 && h % 2 == 0 &&
        w.toLong * h * 3 / 2 <= Int.MaxValue,
      s"Y4M: unreasonable dimensions $w x $h")
    require(fn > 0 && fd > 0, s"Y4M: missing or bad frame rate")
    val sz = frameSize(w, h)
    val marker = "FRAME"
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = nl + 1
    while (pos < bytes.length) {
      require(pos + marker.length < bytes.length &&
        new String(bytes, pos, marker.length,
          java.nio.charset.StandardCharsets.US_ASCII) == marker &&
        (bytes(pos + marker.length) == '\n'.toByte ||
          bytes(pos + marker.length) == ' '.toByte),
        s"Y4M: expected FRAME marker at byte $pos (frame parameters " +
          "must start with a space per the spec)")
      var e = pos + marker.length
      while (e < bytes.length && bytes(e) != '\n'.toByte) e += 1
      require(e < bytes.length, "Y4M: unterminated FRAME header")
      pos = e + 1
      require(bytes.length - pos >= sz,
        s"Y4M: truncated frame (${bytes.length - pos} < $sz)")
      frames += java.util.Arrays.copyOfRange(bytes, pos, pos + sz)
      pos += sz
    }
    Video(w, h, fn, fd, frames.toArray)
  }

  /** Unsigned byte sum of a frame's LUMA plane (the first w·h
    * bytes) — the per-frame brightness witness. */
  def lumaSum(width: Int, height: Int, frame: Array[Byte]): Long = {
    var s = 0L; var i = 0; val n = width * height
    while (i < n) { s += frame(i) & 0xff; i += 1 }
    s
  }

  /** Unsigned byte sum of both CHROMA planes (everything after the
    * luma plane). */
  def chromaSum(width: Int, height: Int, frame: Array[Byte]): Long = {
    var s = 0L; var i = width * height
    while (i < frame.length) { s += frame(i) & 0xff; i += 1 }
    s
  }
}
