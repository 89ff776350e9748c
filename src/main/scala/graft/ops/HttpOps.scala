package graft.ops

import java.nio.charset.StandardCharsets.US_ASCII

/** HTTP/1.1 response message parsing (RFC 9112, the public spec) —
  * the layer between WARC record blocks and page text. Real Common
  * Crawl response blocks are full HTTP messages: status line, header
  * block (`Content-Type; charset=…`), and a body that is often
  * chunked-transfer coded — NOT bare text. A pipeline that hashes the
  * raw block instead of the decoded body witnesses the transfer
  * framing, not the page; this parser recovers the body byte-exactly
  * through both the identity and chunked codings.
  *
  * Grammar implemented (fail-loud, untrusted input):
  *
  * {{{
  *   response    = status-line *( header CRLF ) CRLF body
  *   status-line = "HTTP/1.1" SP 3DIGIT SP reason CRLF
  *   chunked     = *( hex-size CRLF data CRLF ) "0" CRLF CRLF
  * }}}
  *
  * A declared `Content-Length` that disagrees with the block, a
  * non-hex chunk size, or a missing chunk terminator is corruption
  * and throws with the codec family's shared vocabulary ("truncated"
  * / "malformed"), so [[QuarantineOps.classify]] lands these in the
  * standard classes without HTTP-specific handling.
  *
  * Scale shape: pure row-local byte parsing — it runs inside the same
  * codec kernel as the WARC member walk ([[Multimodal.kernel]]);
  * bodies never leave the task, only witness columns travel.
  *
  * Beyond-reference surface: the reference engine reads CSV only
  * (reference src/datasources/mod.rs:25-71 is its entire format
  * surface).
  */
object HttpOps {

  /** One parsed response: status, headers in wire order, the decoded
    * (de-chunked) body, and the transfer-framing witnesses. */
  final case class HttpResponse(status: Int, reason: String,
      headers: Seq[(String, String)], body: Array[Byte],
      chunked: Boolean, nChunks: Int) {
    /** Case-insensitive single-valued header lookup. */
    def header(name: String): Option[String] =
      headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }
    /** The media type portion of Content-Type ("text/html"). */
    def contentType: Option[String] =
      header("Content-Type").map(_.split(';')(0).trim.toLowerCase)
    /** The charset parameter of Content-Type, lowercased. */
    def charset: Option[String] =
      header("Content-Type").flatMap { v =>
        v.split(';').iterator.drop(1).map(_.trim)
          .collectFirst {
            case p if p.toLowerCase.startsWith("charset=") =>
              p.substring("charset=".length).trim
                .stripPrefix("\"").stripSuffix("\"").toLowerCase
          }
      }
  }

  /** Parse one HTTP/1.1 (or 1.0) response block. Framing is
    * UNTRUSTED: the status line must parse, header lines must be
    * `Name: value`, chunk sizes must be hex and in-bounds, the chunk
    * terminator and per-chunk CRLFs are verified, and an identity
    * body must match its declared Content-Length exactly. */
  def parseResponse(block: Array[Byte]): HttpResponse = {
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos + 1 < block.length &&
        !(block(pos) == '\r' && block(pos + 1) == '\n')) pos += 1
      require(pos + 1 < block.length,
        "http: truncated header block (no CRLF)")
      val s = new String(block, start, pos - start, US_ASCII)
      pos += 2
      s
    }
    val status = line()
    require(status.startsWith("HTTP/1.1 ") ||
        status.startsWith("HTTP/1.0 "),
      s"http: malformed status line '${status.take(20)}'")
    val parts = status.split(" ", 3)
    require(parts.length >= 2 && parts(1).length == 3 &&
        parts(1).forall(_.isDigit),
      s"http: malformed status code in '${status.take(20)}'")
    val code = parts(1).toInt
    val reason = if (parts.length == 3) parts(2) else ""
    val headers = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    var l = line()
    while (l.nonEmpty) {
      val i = l.indexOf(':')
      require(i > 0, s"http: malformed header line '${l.take(40)}'")
      headers += l.substring(0, i).trim -> l.substring(i + 1).trim
      l = line()
    }
    def headerVal(name: String): Option[String] =
      headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }
    val chunked = headerVal("Transfer-Encoding")
      .exists(_.trim.equalsIgnoreCase("chunked"))
    if (chunked) {
      val body = new java.io.ByteArrayOutputStream(block.length - pos)
      var n = 0
      var done = false
      while (!done) {
        val sizeLine = line()
        require(sizeLine.nonEmpty &&
            sizeLine.forall(c => Character.digit(c, 16) >= 0),
          s"http: malformed chunk size '${sizeLine.take(16)}'")
        // the hostile-size gate applies AFTER stripping leading
        // zeros: RFC 9112 permits them ('0000000a' is a legal 10),
        // and foreign captures do emit them — only the VALUE is gated
        val sizeDigits = {
          val t = sizeLine.dropWhile(_ == '0')
          if (t.isEmpty) "0" else t
        }
        require(sizeDigits.length <= 7, // 16^7 > any sane chunk
          s"http: unreasonable chunk size '${sizeLine.take(16)}'")
        val size = Integer.parseInt(sizeDigits, 16)
        if (size == 0) {
          // terminator: no trailers in this profile — the final CRLF
          // must follow immediately
          require(block.length - pos >= 2 && block(pos) == '\r' &&
              block(pos + 1) == '\n',
            "http: truncated chunk terminator")
          pos += 2
          done = true
        } else {
          require(block.length - pos >= size + 2,
            s"http: truncated chunk (need $size bytes at $pos)")
          body.write(block, pos, size)
          pos += size
          require(block(pos) == '\r' && block(pos + 1) == '\n',
            s"http: malformed chunk framing at byte $pos " +
              "(size disagrees with CRLF)")
          pos += 2
          n += 1
        }
      }
      require(pos == block.length,
        s"http: ${block.length - pos} trailing bytes after the " +
          "chunk terminator")
      HttpResponse(code, reason, headers.toSeq, body.toByteArray,
        chunked = true, nChunks = n)
    } else {
      val rest = block.length - pos
      headerVal("Content-Length").foreach { cl =>
        val want =
          try cl.trim.toLong
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"http: malformed Content-Length '$cl'")
          }
        require(want == rest,
          s"http: Content-Length $want disagrees with the $rest-byte " +
            "body (truncated or padded block)")
      }
      HttpResponse(code, reason, headers.toSeq,
        java.util.Arrays.copyOfRange(block, pos, block.length),
        chunked = false, nChunks = 0)
    }
  }

  /** Serialize one HTTP/1.1 response; `chunkSize > 0` emits
    * chunked-transfer coding (lowercase hex sizes, `0 CRLF CRLF`
    * terminator), otherwise identity with Content-Length. The
    * generator side of the witness contract — deterministic for a
    * given (status, headers, body). */
  def encodeResponse(status: Int, reason: String,
      headers: Seq[(String, String)], body: Array[Byte],
      chunkSize: Int = 0): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("HTTP/1.1 ").append(status).append(' ').append(reason)
      .append("\r\n")
    headers.foreach { case (k, v) =>
      sb.append(k).append(": ").append(v).append("\r\n")
    }
    if (chunkSize > 0) sb.append("Transfer-Encoding: chunked\r\n\r\n")
    else sb.append("Content-Length: ").append(body.length)
      .append("\r\n\r\n")
    // BYTE length, not char length: a non-ASCII reason/header char
    // encodes to one replacement byte, so the two counts can differ
    val head = sb.toString.getBytes(US_ASCII)
    val out = new java.io.ByteArrayOutputStream(
      head.length + body.length + 64)
    out.write(head, 0, head.length)
    if (chunkSize > 0) {
      var off = 0
      while (off < body.length) {
        val n = math.min(chunkSize, body.length - off)
        val head = (java.lang.Integer.toHexString(n) + "\r\n")
          .getBytes(US_ASCII)
        out.write(head, 0, head.length)
        out.write(body, off, n)
        out.write('\r'); out.write('\n')
        off += n
      }
      out.write("0\r\n\r\n".getBytes(US_ASCII), 0, 5)
    } else out.write(body, 0, body.length)
    out.toByteArray
  }
}
