package graft.ops

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.zip.Inflater

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC ingestion — the container Common Crawl (the canonical public
  * LLM corpus) actually ships: `.warc.gz` files where each WARC/1.1
  * record (ISO 28500 / the public IIPC spec) is compressed as its OWN
  * gzip member, so readers can seek to a member boundary and start
  * parsing. This layers the WARC record framing on top of the
  * existing RFC 1952 member walk ([[CompressedOps.gunzipWith]] — the
  * decompressed concatenation of members IS the record stream,
  * because records are self-delimiting via `Content-Length`).
  *
  * Record grammar implemented (and enforced, fail-loud):
  *
  * {{{
  *   record      = version CRLF *header CRLF block CRLF CRLF
  *   version     = "WARC/1.1" | "WARC/1.0"
  *   header      = field-name ":" SP field-value CRLF
  *   block       = exactly Content-Length bytes
  * }}}
  *
  * `WARC-Type` dispatch is part of the contract: a WARC file
  * interleaves `warcinfo` / `request` / `response` / `metadata`
  * records, and a pipeline that wants page text must select response
  * records while still WALKING (and length-validating) everything
  * else. The reader returns per-type witnesses so the oracle
  * certifies all three record bodies were recovered byte-exactly,
  * not just skipped over.
  *
  * Scale shape: identical to the other codecs — row-local, map-shaped
  * work in [[Multimodal.kernel]] with the task's ONE native Inflater;
  * payloads and record blocks never leave the task, only witness
  * columns travel. At a real 100 TB crawl the unit of work is one
  * WARC file per task (the scan splits on files), which is exactly
  * this shape.
  */
object WarcOps {

  private val Crlf = "\r\n"

  /** The fixed WARC-Date every generator writes (determinism: the
    * oracle replays witnesses from the original rows, never time). */
  private val WarcDate = "2020-01-01T00:00:00Z"

  /** The per-capture target-URI prefix every generator writes and
    * every reader trusts as the doc-id source. */
  private val UriPrefix = "https://example.com/doc/"

  /** Standard request/response member headers for one capture. */
  private def pairHeaders(id: Long, n: Int): Seq[(String, String)] =
    Seq("WARC-Record-ID" -> s"<urn:uuid:0000-$id-$n>",
      "WARC-Date" -> WarcDate, "WARC-Target-URI" -> s"$UriPrefix$id")

  /** Extract the capture's doc id from the record's OWN target URI —
    * the container is the source of truth, not a side channel.
    * Fail-loud with the quarantine vocabulary; the production lanes
    * run it under [[QuarantineOps.attempt]], the certification
    * readers let it kill the stage. ONE implementation so all four
    * readers share one error contract. */
  private def docIdFromUri(rec: WarcRecord): Long = {
    val uri = rec.headers.getOrElse("WARC-Target-URI",
      throw new IllegalArgumentException(
        "WARC: response without WARC-Target-URI"))
    require(uri.startsWith(UriPrefix),
      s"WARC: unexpected target URI '$uri'")
    try uri.substring(UriPrefix.length).toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"WARC: non-numeric doc id in URI '$uri'")
    }
  }

  /** The shared multi-document `.warc.gz` builder behind every file
    * generator: group docs into docsPerFile-sized files (the ONE
    * payload shuffle the container requires — a file's records must
    * meet in one task to be serialized), write the warcinfo member,
    * then let `render` emit each doc's record members.
    * `emit(recordBytes, flipCrc)` compresses the record as its own
    * gzip member; `flipCrc` flips the stored CRC-32's low bit (the
    * planted-integrity-corruption hook — framing stays intact, the
    * trailer lies). */
  private def buildWarcFiles(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int)(
      render: (Long, String, (Array[Byte], Boolean) => Unit) => Unit)
      : DataFrame =
    Multimodal.kernel(Multimodal.groupMembers(Multimodal.docText(docs),
        DedupOps.idiv(col("doc_id"), lit(docsPerFile.toLong)),
        col("doc_id"), col("text"))) { case (c, (fid, members)) =>
      val out = new java.io.ByteArrayOutputStream(
        members.map(_._2.length).sum / 2 + 1024)
      def emit(rec: Array[Byte], flipCrc: Boolean): Unit =
        if (!flipCrc) CompressedOps.gzipMember(rec, c.rawDeflater, c.crc, out)
        else {
          val one = new java.io.ByteArrayOutputStream(rec.length / 2 + 64)
          CompressedOps.gzipMember(rec, c.rawDeflater, c.crc, one)
          val b = one.toByteArray
          b(b.length - 8) = (b(b.length - 8) ^ 0x01).toByte
          out.write(b, 0, b.length)
        }
      emit(record("warcinfo", Seq(
        "WARC-Record-ID" -> s"<urn:uuid:file-$fid>",
        "WARC-Date" -> WarcDate), InfoBlock), false)
      members.foreach { case (id, text) => render(id, text, emit) }
      Iterator.single((fid, out.toByteArray))
    }.toDF("file_id", "content")

  /** Serialize one WARC/1.1 record: version line, headers (with
    * Content-Length appended), blank line, block, two CRLFs. */
  def record(warcType: String, headers: Seq[(String, String)],
      block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.1").append(Crlf)
    sb.append("WARC-Type: ").append(warcType).append(Crlf)
    headers.foreach { case (k, v) =>
      sb.append(k).append(": ").append(v).append(Crlf)
    }
    sb.append("Content-Length: ").append(block.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes(US_ASCII)
    val out = new Array[Byte](head.length + block.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** The deterministic request block for a doc — plain HTTP/1.1 GET
    * (41 + strlen(doc_id) ASCII bytes; the oracle replays the
    * length). */
  private[ops] def requestBlock(id: Long): Array[Byte] =
    (s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n")
      .getBytes(US_ASCII)

  /** The fixed warcinfo block every generated file carries. */
  private[ops] val InfoBlock: Array[Byte] =
    "software: graft\r\nformat: WARC File Format 1.1\r\n"
      .getBytes(US_ASCII)

  /** Build a `.warc.gz` corpus from documents: per doc one WARC file
    * holding a `warcinfo`, a `request`, and a `response` record (the
    * Common Crawl record mix), EACH compressed as its own gzip member
    * — the member-per-record layout the real crawl uses so readers
    * can resume at member boundaries. The response block is the doc's
    * UTF-8 text; every field is deterministic (no timestamps — the
    * WARC-Date is a fixed epoch and the record id derives from
    * doc_id), so the DuckDB oracle replays all witnesses from the
    * original row. */
  def warcTable(spark: SparkSession, docs: DataFrame): DataFrame =
    Multimodal.encodeDocs(StorageOps.fanOutForKernel(
        Multimodal.docText(docs)))(
      (c, id, text) => docWarc(c, id, text.getBytes(UTF_8)))

  /** One doc's `.warc.gz` file: its warcinfo, request and response
    * records, each compressed as its own gzip member with the task's
    * raw Deflater. */
  private def docWarc(c: Multimodal.Codecs, id: Long,
      respBlock: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(respBlock.length / 2 + 512)
    Seq(record("warcinfo", pairHeaders(id, 0).take(2), InfoBlock),
      record("request", pairHeaders(id, 1), requestBlock(id)),
      record("response", pairHeaders(id, 2), respBlock))
      .foreach(CompressedOps.gzipMember(_, c.rawDeflater, c.crc, out))
    out.toByteArray
  }

  /** One parsed record: type, headers, block bytes. */
  final case class WarcRecord(warcType: String,
      headers: Map[String, String], block: Array[Byte])

  /** Walk the decompressed record stream. Framing is UNTRUSTED:
    * version line required, header lines must be `Name: value`,
    * `Content-Length` required and bounds-checked against the buffer,
    * and the two CRLFs after every block are verified — a record
    * whose declared length disagrees with its framing is corruption,
    * not a resync point. */
  def parseRecords(bytes: Array[Byte]): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos + 1 < bytes.length &&
        !(bytes(pos) == '\r' && bytes(pos + 1) == '\n')) pos += 1
      require(pos + 1 < bytes.length, "WARC: unterminated header line")
      val s = new String(bytes, start, pos - start, US_ASCII)
      pos += 2
      s
    }
    while (pos < bytes.length) {
      val version = line()
      require(version == "WARC/1.1" || version == "WARC/1.0",
        s"WARC: bad magic '${version.take(12)}' at record start")
      val headers = scala.collection.mutable.LinkedHashMap
        .empty[String, String]
      var l = line()
      while (l.nonEmpty) {
        val i = l.indexOf(':')
        require(i > 0, s"WARC: malformed header line '${l.take(40)}'")
        headers += l.substring(0, i).trim -> l.substring(i + 1).trim
        l = line()
      }
      val lenStr = headers.getOrElse("Content-Length",
        throw new IllegalArgumentException(
          "WARC: missing Content-Length header"))
      val len =
        try lenStr.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"WARC: malformed Content-Length '$lenStr'")
        }
      require(len >= 0 && len <= Int.MaxValue &&
          bytes.length.toLong - pos >= len + 4,
        s"WARC: truncated record block (need $len bytes at $pos)")
      val block = java.util.Arrays.copyOfRange(bytes, pos,
        pos + len.toInt)
      pos += len.toInt
      require(bytes(pos) == '\r' && bytes(pos + 1) == '\n' &&
          bytes(pos + 2) == '\r' && bytes(pos + 3) == '\n',
        s"WARC: missing record separator after block at byte $pos " +
          "(Content-Length disagrees with framing)")
      pos += 4
      out += WarcRecord(
        headers.getOrElse("WARC-Type",
          throw new IllegalArgumentException(
            "WARC: missing WARC-Type header")),
        headers.toMap, block)
    }
    out.toSeq
  }

  /** Build MULTI-DOCUMENT `.warc.gz` files — the real crawl unit of
    * work (Common Crawl ships ~1 GB files of thousands of captures,
    * not one file per page): docs group by `doc_id div docsPerFile`,
    * and each file is ONE warcinfo record followed by a
    * request+response pair per doc in id order, every record its own
    * gzip member. The one payload-bearing shuffle is the grouping the
    * container requires (a file's records must meet in one task to be
    * serialized — the [[Multimodal.shardExport]] discipline); at read
    * time the scan parallelizes per FILE and explodes to per-record
    * rows, which is exactly the 100 TB shape. */
  def warcFileTable(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int = 50): DataFrame =
    buildWarcFiles(spark, docs, docsPerFile) { (id, text, emit) =>
      emit(record("request", pairHeaders(id, 1), requestBlock(id)),
        false)
      emit(record("response", pairHeaders(id, 2),
        text.getBytes(UTF_8)), false)
    }

  /** One step of the member-at-a-time walk: the member's ordinal in
    * the file, its starting byte offset, and the parsed record or the
    * failure that quarantines exactly this member. */
  final case class MemberStep(idx: Int, start: Int,
      result: Either[Throwable, WarcRecord])

  /** STREAMING member-at-a-time walk of a member-per-record `.warc.gz`
    * file: inflate ONE gzip member ([[CompressedOps.inflateMemberAt]]),
    * parse ONE record, emit, reuse the Inflater — peak memory is one
    * record, never the decompressed concatenation (the shape a
    * 1000-capture-per-GB real crawl file requires; a whole-file
    * inflate is a per-task OOM at that scale).
    *
    * Failure granularity is per MEMBER: a trailer integrity failure
    * (CRC/ISIZE — framing intact) resumes at the next member boundary;
    * a record-grammar failure inside an intact member costs only that
    * member; header/deflate corruption loses gzip sync, and the walk
    * rescans for the next member magic ([[CompressedOps.findGzipMagic]],
    * the standard WARC-reader recovery posture). `memberCap` bounds
    * ONE member's decompressed size — the per-task memory gate. */
  def walkRecordMembers(bytes: Array[Byte], infl: Inflater,
      memberCap: Int = 1 << 26): Iterator[MemberStep] =
    new Iterator[MemberStep] {
      private var pos = 0
      private var idx = 0
      override def hasNext: Boolean = pos < bytes.length
      override def next(): MemberStep = {
        val start = pos
        val result =
          try {
            val (data, nxt) =
              CompressedOps.inflateMemberAt(bytes, pos, infl, memberCap)
            pos = nxt
            val recs = parseRecords(data)
            require(recs.length == 1,
              s"WARC: member at byte $start must hold exactly one " +
                s"record, got ${recs.length}")
            Right(recs.head)
          } catch {
            case e: CompressedOps.GzipMemberException =>
              // resume at the trailer boundary when the failure knows
              // it, else rescan for the next member magic
              pos =
                if (e.resumePos >= 0) e.resumePos
                else {
                  val at = CompressedOps.findGzipMagic(bytes, start + 1)
                  if (at < 0) bytes.length else at
                }
              Left(e)
            case scala.util.control.NonFatal(e) =>
              // record grammar failed but the MEMBER framing was
              // sound — pos already advanced past its trailer.
              // Defensive: a failure that did NOT advance must rescan
              // (a stuck position would loop the iterator forever)
              if (pos == start) {
                val at = CompressedOps.findGzipMagic(bytes, start + 1)
                pos = if (at < 0) bytes.length else at
              }
              Left(e)
          }
        idx += 1
        MemberStep(idx - 1, start, result)
      }
    }

  /** One response capture extracted from a multi-document file:
    * the doc id comes from the record's OWN `WARC-Target-URI` (the
    * reader trusts the container, not a side channel), plus the
    * file's record count and the byte-exact body witnesses. */
  final case class WarcCapture(doc_id: Long, file_id: Long,
      n_file_records: Long, resp_len: Long, resp_md5: String)

  /** Read multi-document WARC files with the STREAMING walk: one
    * member-at-a-time pass per FILE row (peak memory = one record +
    * the per-capture witness list, never the decompressed file),
    * exploded to one output row per response capture. The file
    * structure is enforced, not assumed: the first record must be the
    * warcinfo, and every response must be immediately preceded by its
    * request for the SAME target URI (the pair discipline crawlers
    * write) — a shuffled or spliced file fails loud (this is the
    * CERTIFICATION reader; [[tryReadWarcFiles]] is the production
    * quarantine lane). */
  def readWarcFilesAll(spark: SparkSession, media: DataFrame,
      memberCap: Int = 1 << 26): Dataset[WarcCapture] =
    Multimodal.flatMapMedia(files(media)) { (c, r) =>
      // a zero-byte file is data loss, not an empty capture set —
      // the certification reader keeps the old gunzip fail-loud
      // posture the streaming walk would otherwise skip past
      require(r.content.nonEmpty, s"WARC: file ${r.doc_id} is empty")
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String)] // (doc_id, resp_len, resp_md5)
      var n = 0L
      var pendingReq: Option[WarcRecord] = None
      walkRecordMembers(r.content, c.rawInflater, memberCap)
        .foreach { step =>
        val rec = step.result.toTry.get // fail-loud reader
        if (step.idx == 0) {
          require(rec.warcType == "warcinfo",
            s"WARC: file ${r.doc_id} does not start with a " +
              "warcinfo record")
        } else rec.warcType match {
          case "request" =>
            require(pendingReq.isEmpty,
              s"WARC: file ${r.doc_id} breaks the request/response " +
                "pair discipline")
            pendingReq = Some(rec)
          case "response" =>
            val req = pendingReq.getOrElse(
              throw new IllegalArgumentException(
                s"WARC: file ${r.doc_id} breaks the " +
                  "request/response pair discipline"))
            pendingReq = None
            val id = docIdFromUri(rec)
            require(req.headers.get("WARC-Target-URI")
                .contains(s"$UriPrefix$id"),
              s"WARC: request/response URI mismatch in file " +
                s"${r.doc_id}")
            out += ((id, rec.block.length.toLong, c.md5Hex(rec.block)))
          case t => throw new IllegalArgumentException(
            s"WARC: unexpected $t record in file ${r.doc_id}")
        }
        n += 1
      }
      require(pendingReq.isEmpty,
        s"WARC: file ${r.doc_id} ends with an unpaired request")
      out.iterator.map { case (id, len, hex) =>
        WarcCapture(id, r.doc_id, n, len, hex)
      }
    }

  /** One member's outcome under the quarantine contract: `ok` rows are
    * response captures with their byte-exact witnesses; `quarantined`
    * rows carry the stable error class for exactly ONE member —
    * sibling captures in the same file survive. Intact non-response
    * records (warcinfo / request) emit nothing. */
  final case class TriedCapture(file_id: Long, member_idx: Int,
      status: String, error_class: Option[String],
      doc_id: Option[Long], resp_len: Option[Long],
      resp_md5: Option[String])

  /** The PRODUCTION multi-document WARC reader: the same streaming
    * member-at-a-time walk as [[readWarcFilesAll]], but corruption is
    * member-granular — one corrupt record quarantines ONE capture
    * (file_id, member_idx, error_class) and the remaining captures in
    * the file survive, instead of one bad byte killing a
    * 50k-capture file (and with it the stage). Responses are kept on
    * their OWN record's integrity; requests and warcinfo records are
    * walked (and length-validated) but emit rows only when corrupt.
    * Zero added shuffle — the same map-shaped slot as the fail-loud
    * reader. */
  def tryReadWarcFiles(spark: SparkSession, media: DataFrame,
      memberCap: Int = 1 << 26): Dataset[TriedCapture] =
    Multimodal.flatMapMedia(files(media)) { (c, r) =>
      // a zero-byte file quarantines as ONE row — the production
      // lane's analogue of the certification reader's fail-loud
      if (r.content.isEmpty)
        Iterator.single(TriedCapture(r.doc_id, 0, "quarantined",
          Some("truncated"), None, None, None))
      else walkRecordMembers(r.content, c.rawInflater, memberCap)
        .flatMap { step =>
        step.result match {
          case Left(e) =>
            Some(TriedCapture(r.doc_id, step.idx, "quarantined",
              Some(QuarantineOps.classify(e)), None, None, None))
          case Right(rec) if rec.warcType == "response" =>
            QuarantineOps.attempt(docIdFromUri(rec)) match {
              case Right(id) =>
                Some(TriedCapture(r.doc_id, step.idx, "ok", None,
                  Some(id), Some(rec.block.length.toLong),
                  Some(c.md5Hex(rec.block))))
              case Left(cls) =>
                Some(TriedCapture(r.doc_id, step.idx, "quarantined",
                  Some(cls), None, None, None))
            }
          case Right(_) => None // intact warcinfo / request
        }
      }
    }

  /** The PLANTED-corruption multi-document corpus the member-granular
    * quarantine oracle runs over: [[warcFileTable]]'s exact layout,
    * with two corruption classes planted by doc_id arithmetic — each
    * chosen so the walk's OWN diagnosis is deterministic AND the
    * failure costs exactly one member:
    *
    *   - `doc_id % 17 == 3` → the RESPONSE member's stored gzip
    *     CRC-32 gets its low bit flipped: the deflate stream still
    *     inflates (framing intact, resume point known), the trailer
    *     check fails → `integrity`, that one capture is lost, every
    *     sibling survives;
    *   - `doc_id % 17 == 7` → the REQUEST record's first byte is
    *     overwritten ('X') BEFORE compression: the gzip member is
    *     sound, the record grammar fails → `bad_magic`, and the
    *     following response (its own record intact) SURVIVES.
    *
    * Planting is pure arithmetic on (doc_id, text), so the DuckDB
    * oracle replays status + class + member ordinals + clean-row
    * witnesses without seeing a payload byte. */
  def corruptWarcFileTable(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int = 50): DataFrame =
    buildWarcFiles(spark, docs, docsPerFile) { (id, text, emit) =>
      val req = record("request", pairHeaders(id, 1), requestBlock(id))
      if (id % 17 == 7) req(0) = 'X'.toByte
      emit(req, false)
      emit(record("response", pairHeaders(id, 2),
        text.getBytes(UTF_8)), id % 17 == 3)
    }

  /** Build a `.warc.gz` corpus whose response blocks are REAL HTTP/1.1
    * messages ([[HttpOps.encodeResponse]]) — the shape actual crawl
    * captures have (status line + header block + transfer-coded body),
    * not bare text. Deterministic per doc: even ids are
    * chunked-transfer coded in 100-byte chunks (the coding a
    * first-cut reader silently mis-hashes), odd ids identity with
    * Content-Length; `doc_id % 10 == 9` captures are 404s (status
    * dispatch is part of the contract); every body is the doc's UTF-8
    * text and every header is replayable arithmetic. */
  def warcHttpTable(spark: SparkSession, docs: DataFrame): DataFrame =
    Multimodal.encodeDocs(StorageOps.fanOutForKernel(
        Multimodal.docText(docs))) { (c, id, text) =>
      val (status, reason) = crawlStatus(id)
      docWarc(c, id, httpResponse(id, text.getBytes(UTF_8), status, reason,
        "utf-8", chunked = id % 2 == 0))
    }

  /** One HTTP-parsed capture's witnesses: status code, header count,
    * media type + charset from Content-Type, the transfer framing
    * (chunked flag + chunk count), and the byte-exact DECODED body —
    * all replayable by the oracle from the original document row. */
  final case class WarcHttpMeta(doc_id: Long, status: Long,
      n_headers: Long, content_type: String, charset: String,
      chunked: Boolean, n_chunks: Long, body_len: Long,
      body_md5: String)

  /** Read a per-doc `.warc.gz` corpus and parse each response block
    * as a full HTTP message: gzip member walk → WARC record framing →
    * [[HttpOps.parseResponse]] (status line, header block, chunked or
    * identity body) in one kernel pass. A body digest match
    * certifies the DECODED body equals the original text through the
    * WARC framing AND the HTTP transfer coding. */
  def readWarcHttpAll(spark: SparkSession,
      media: DataFrame): Dataset[WarcHttpMeta] =
    Multimodal.mapMedia(media) { (c, r) =>
      val records = parseRecords(
        CompressedOps.gunzipWith(r.content, c.rawInflater))
      val of = records.filter(_.warcType == "response")
      require(of.length == 1,
        s"WARC: expected one response record, got ${of.length}")
      val http = HttpOps.parseResponse(of.head.block)
      WarcHttpMeta(r.doc_id, http.status.toLong,
        http.headers.length.toLong,
        http.contentType.getOrElse(""),
        http.charset.getOrElse(""),
        http.chunked, http.nChunks.toLong,
        http.body.length.toLong, c.md5Hex(http.body))
    }

  /** The HTML wrap the crawl generator serves (the same markup
    * text_html_strip certifies): paragraphs split at sentence
    * boundaries plus an entity-bearing footer. */
  private[ops] def htmlWrap(text: String, nav: String = "",
      headExtra: String = ""): String =
    "<html><head><title>d</title>" + headExtra + "</head><body><p>" +
      text.replaceAll("\\. ", ".</p> <p>") +
      "</p>" + nav +
      "<div class=\"footer\">&amp;copy; 2026 &lt;corp&gt;</div>" +
      "</body></html>"

  /** One capture's HTTP/1.1 response: HTML content type with the
    * given charset, the `X-Doc` id header, chunked in 100-byte chunks
    * or identity-coded. */
  private def httpResponse(id: Long, body: Array[Byte], status: Int,
      reason: String, charset: String, chunked: Boolean,
      extraHeaders: Seq[(String, String)] = Nil): Array[Byte] =
    HttpOps.encodeResponse(status, reason, Seq(
      "Content-Type" -> s"text/html; charset=$charset",
      "X-Doc" -> id.toString) ++ extraHeaders,
      body, chunkSize = if (chunked) 100 else 0)

  /** The crawl generators' status arm: 404 for `doc_id % 10 == 9`. */
  private def crawlStatus(id: Long): (Int, String) =
    if (id % 10 == 9) (404, "Not Found") else (200, "OK")

  /** Emit one HTTP-over-WARC capture (request + response members)
    * through the shared builder's `emit` — the common tail of the
    * crawl generators. */
  private def emitHttpCapture(id: Long, body: Array[Byte],
      status: Int, reason: String, charset: String, chunked: Boolean,
      emit: (Array[Byte], Boolean) => Unit,
      extraHeaders: Seq[(String, String)] = Nil): Unit = {
    emit(record("request", pairHeaders(id, 1), requestBlock(id)),
      false)
    emit(record("response", pairHeaders(id, 2), httpResponse(id, body,
      status, reason, charset, chunked, extraHeaders)), false)
  }

  /** Build MULTI-DOCUMENT `.warc.gz` files whose response blocks are
    * full HTTP messages serving HTML — the complete real-crawl
    * container: 50 captures per file, each response an HTTP/1.1
    * message (chunked for even ids, identity otherwise, 404 for
    * doc_id % 10 == 9) whose body is the HTML-wrapped document text.
    * This is the input the end-to-end crawl-to-corpus pipeline
    * certifies against. */
  def warcCrawlTable(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int = 50): DataFrame =
    buildWarcFiles(spark, docs, docsPerFile) { (id, text, emit) =>
      val (status, reason) = crawlStatus(id)
      emitHttpCapture(id, htmlWrap(text).getBytes(UTF_8), status,
        reason, "utf-8", chunked = id % 2 == 0, emit)
    }

  /** [[htmlWrap]] plus a deterministic OUTLINK nav block — the
    * hyperlink structure a WAT-style extraction recovers: 1 +
    * id mod 3 internal anchors to docs (id + {1, 7, 49}) mod n (mod-n
    * so every target exists and the link graph is dangling-free for
    * the PageRank composition) and, on every fourth doc, one
    * off-domain anchor (the dangling-external case the extractor
    * must classify, not crash on). */
  private[ops] def linkedHtml(id: Long, n: Long, text: String): String = {
    val offsets = Seq(1L, 7L, 49L)
    val nLinks = 1 + (id % 3).toInt
    val anchors = (0 until nLinks).map { k =>
      val t = (id + offsets(k)) % n
      s"""<a href="https://example.com/doc/$t">doc $t</a> """
    }.mkString
    val ext =
      if (id % 4 == 0)
        s"""<a href="https://dangling.example.net/x$id">ext</a> """
      else ""
    htmlWrap(text, "<nav>" + anchors + ext + "</nav>")
  }

  /** Build MULTI-DOCUMENT crawl files whose HTML carries the
    * deterministic outlink structure ([[linkedHtml]]) — the input for
    * WAT-style link extraction and the crawl link graph. Same
    * container discipline as [[warcCrawlTable]] (HTTP responses,
    * chunked for even ids); all captures are 200s so the graph is
    * complete. */
  def warcLinkedCrawlTable(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int = 50): DataFrame = {
    // the planted (id + off) mod n outlink arithmetic — and the
    // linkrank oracle's DISTINCT-src node set — are only equivalent
    // to the engine's src-union-dst node set when doc ids are exactly
    // 0..n-1 (every mod-n target is then also a source, the graph is
    // dangling-free, and both engines agree on n and r_init). Assert
    // the invariant instead of silently diverging on a gappy id space.
    val s = docs.agg(count(lit(1)), min(col("doc_id")),
      max(col("doc_id"))).head()
    val n = s.getLong(0)
    require(n > 0 && s.getLong(1) == 0L && s.getLong(2) == n - 1,
      s"warcLinkedCrawlTable needs contiguous doc_id 0..n-1, got " +
        s"n=$n min=${s.getLong(1)} max=${s.getLong(2)}")
    buildWarcFiles(spark, docs, docsPerFile) { (id, text, emit) =>
      emitHttpCapture(id, linkedHtml(id, n, text).getBytes(UTF_8),
        200, "OK", "utf-8", chunked = id % 2 == 0, emit)
    }
  }

  /** The soft-404 body template: a 200-status "page" that is really
    * an error document — the classic CDN/origin misconfiguration a
    * crawl curation pass must catch by CONTENT (the status code says
    * keep). The `<h1>Page Not Found</h1>` landmark is what the
    * classifier matches. */
  private[ops] val Soft404Html: String =
    "<html><head><title>404 Not Found</title></head><body>" +
      "<h1>Page Not Found</h1><p>The requested URL was not found " +
      "on this server.</p></body></html>"

  /** The meta-robots head element of the noindex-by-markup arm. */
  private[ops] val RobotsMeta: String =
    "<meta name=\"robots\" content=\"noindex\">"

  /** Build MULTI-DOCUMENT crawl files planting the four curation arms
    * a robots/soft-404 gate must separate — BY PRECEDENCE on doc_id
    * (first match wins, so every doc has exactly one arm and the
    * oracle replays the same CASE):
    *
    *   - `id % 10 == 9` → a real 404 (the existing crawl convention);
    *   - `id % 7 == 3`  → 200 with an `X-Robots-Tag: noindex` HTTP
    *     header (the out-of-band opt-out);
    *   - `id % 7 == 5`  → 200 with `<meta name="robots"
    *     content="noindex">` in the HTML head (the in-band opt-out);
    *   - `id % 11 == 7` → a SOFT 404: status 200 but the body is the
    *     [[Soft404Html]] error template, not the document;
    *   - otherwise a clean 200 serving the HTML-wrapped text.
    *
    * Same container discipline as [[warcCrawlTable]] (HTTP responses,
    * chunked for even ids). */
  def robotsCrawlTable(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int = 50): DataFrame =
    buildWarcFiles(spark, docs, docsPerFile) { (id, text, emit) =>
      val chunked = id % 2 == 0
      if (id % 10 == 9)
        emitHttpCapture(id, htmlWrap(text).getBytes(UTF_8), 404,
          "Not Found", "utf-8", chunked, emit)
      else if (id % 7 == 3)
        emitHttpCapture(id, htmlWrap(text).getBytes(UTF_8), 200,
          "OK", "utf-8", chunked, emit,
          extraHeaders = Seq("X-Robots-Tag" -> "noindex"))
      else if (id % 7 == 5)
        emitHttpCapture(id,
          htmlWrap(text, headExtra = RobotsMeta).getBytes(UTF_8),
          200, "OK", "utf-8", chunked, emit)
      else if (id % 11 == 7)
        emitHttpCapture(id, Soft404Html.getBytes(UTF_8), 200, "OK",
          "utf-8", chunked, emit)
      else
        emitHttpCapture(id, htmlWrap(text).getBytes(UTF_8), 200,
          "OK", "utf-8", chunked, emit)
    }

  /** One crawl capture with its robots metadata: the HTTP status, the
    * `X-Robots-Tag` header value (empty when absent), and the decoded
    * HTML — what the robots/soft-404 gate chain consumes. */
  final case class RobotsCapture(doc_id: Long, file_id: Long,
      status: Long, x_robots: String, html: String)

  /** [[readWarcCrawl]] carrying the robots surface: the same
    * streaming member-at-a-time walk + HTTP parse, with the
    * `X-Robots-Tag` response header surfaced per capture. The gate
    * decisions themselves stay column work downstream — header match,
    * meta-robots regex, soft-404 template regex — so the curation
    * logic is declarative and the payload never leaves the task. */
  def readWarcCrawlRobots(spark: SparkSession, media: DataFrame,
      memberCap: Int = 1 << 26): Dataset[RobotsCapture] =
    Multimodal.flatMapMedia(files(media)) { (c, r) =>
      responses(c, r, memberCap).map { rec =>
        val http = HttpOps.parseResponse(rec.block)
        val xRobots = http.headers.collectFirst {
          case (k, v) if k.equalsIgnoreCase("X-Robots-Tag") => v
        }.getOrElse("")
        RobotsCapture(docIdFromUri(rec), r.doc_id, http.status.toLong,
          xRobots, new String(http.body, UTF_8))
      }
    }

  /** One crawl capture after WARC + HTTP decoding: id from the
    * record's own URI, the HTTP status, and the decoded (de-chunked)
    * HTML body ready for the markup-strip stage. */
  final case class CrawlCapture(doc_id: Long, file_id: Long,
      status: Long, html: String)

  /** Read a multi-document crawl container end-to-end: streaming
    * member-at-a-time walk → WARC record framing → HTTP message parse
    * → decoded body, one kernel pass (payloads never leave
    * the task; the downstream strip/gate stages are pure column work
    * over the emitted rows). Fail-loud certification reader; route a
    * production run through the member-granular quarantine shape of
    * [[tryReadWarcFiles]]. */
  def readWarcCrawl(spark: SparkSession, media: DataFrame,
      memberCap: Int = 1 << 26): Dataset[CrawlCapture] =
    Multimodal.flatMapMedia(files(media)) { (c, r) =>
      responses(c, r, memberCap).map { rec =>
        val http = HttpOps.parseResponse(rec.block)
        CrawlCapture(docIdFromUri(rec), r.doc_id, http.status.toLong,
          new String(http.body, UTF_8))
      }
    }

  /** The per-arm charset of the mixed-encoding crawl corpus (doc_id
    * mod 3) and the non-ASCII marker that PROVES the right decoder
    * ran — shared between the generator, the reader contract, and the
    * oracle replay. */
  private[ops] def charsetArm(id: Long): (String, String,
      java.nio.charset.Charset) = (id % 3) match {
    case 0 => ("utf-8", " ü",
      java.nio.charset.StandardCharsets.UTF_8)
    case 1 => ("windows-1252", " café!",
      java.nio.charset.Charset.forName("windows-1252"))
    case _ => ("shift_jis", " 日本語",
      java.nio.charset.Charset.forName("Shift_JIS"))
  }

  /** Build MULTI-DOCUMENT crawl files whose HTTP bodies carry MIXED
    * ENCODINGS declared via `Content-Type; charset=…` (the real-web
    * shape: a UTF-8 pipeline that ignores the declaration corrupts
    * exactly the non-English captures), plus two planted
    * capture-level corruption arms:
    *
    *   - `doc_id % 13 == 5` → the identity body is cut 5 bytes short
    *     of its declared Content-Length: the HTTP framing check
    *     diagnoses the disagreement → `truncated`, ONE capture lost;
    *   - `doc_id % 13 == 9` → undecodable bytes (0x81 0x20 0x81 —
    *     invalid UTF-8, invalid SJIS trail, unmapped in cp1252)
    *     appended under a utf-8 declaration: the declared decode
    *     fails, the sniff fallback exhausts every candidate →
    *     `decode_error`, ONE capture lost.
    *
    * Clean arms cycle utf-8 / windows-1252 / shift_jis by doc_id
    * mod 3, each with its marker ([[charsetArm]]); even ids are
    * chunked-transfer coded. Every witness is doc_id arithmetic. */
  def corruptCrawlHttpTable(spark: SparkSession, docs: DataFrame,
      docsPerFile: Int = 50): DataFrame =
    buildWarcFiles(spark, docs, docsPerFile) { (id, text, emit) =>
      val http: Array[Byte] =
        if (id % 13 == 5) {
          // identity body cut short of its Content-Length; an empty
          // body cuts one header byte instead — either way the parse
          // diagnosis is 'truncated', never a silent 'ok'
          val body = text.getBytes(UTF_8)
          val full = HttpOps.encodeResponse(200, "OK", Seq(
            "Content-Type" -> "text/plain; charset=utf-8"),
            body, chunkSize = 0)
          java.util.Arrays.copyOf(full,
            full.length - math.min(5, math.max(1, body.length)))
        } else if (id % 13 == 9) {
          val bad = text.getBytes(UTF_8) ++
            Array[Byte](0x81.toByte, 0x20, 0x81.toByte)
          HttpOps.encodeResponse(200, "OK", Seq(
            "Content-Type" -> "text/plain; charset=utf-8"),
            bad, chunkSize = if (id % 2 == 0) 100 else 0)
        } else {
          val (name, marker, cs) = charsetArm(id)
          HttpOps.encodeResponse(200, "OK", Seq(
            "Content-Type" -> s"text/plain; charset=$name"),
            (text + marker).getBytes(cs),
            chunkSize = if (id % 2 == 0) 100 else 0)
        }
      emit(record("request", pairHeaders(id, 1), requestBlock(id)),
        false)
      emit(record("response", pairHeaders(id, 2), http), false)
    }

  /** One capture's outcome through the FULL production decode stack:
    * WARC record → HTTP message → declared-charset transcode to
    * UTF-8 — ok with byte-exact UTF-8 witnesses, or quarantined with
    * the stable class of whichever layer refused. */
  final case class CrawlTried(doc_id: Long, status: String,
      error_class: String, detected: String, n_out: Long,
      out_md5: String)

  /** The PRODUCTION crawl reader: streaming member-at-a-time walk,
    * then per CAPTURE the HTTP parse ([[HttpOps.parseResponse]]) and
    * the declared-charset transcode ([[CharsetOps.transcodeDeclared]]
    * — the Content-Type charset parameter drives the decoder, BOMs
    * outrank it, undecodable bodies fail instead of emitting U+FFFD)
    * under the quarantine contract: one malformed message or
    * undecodable body costs ONE capture; siblings survive with their
    * transcoded UTF-8 witnesses. Zero added shuffle. */
  def tryReadWarcCrawlHttp(spark: SparkSession, media: DataFrame,
      memberCap: Int = 1 << 26): Dataset[CrawlTried] =
    Multimodal.flatMapMedia(files(media)) { (c, r) =>
      if (r.content.isEmpty)
        // zero-byte file: ONE quarantine row carrying the FILE id
        // as its identity (r.doc_id is the file_id in this lane —
        // the tryReadWarcFiles contract), so an empty file traces
        // to its source and two empty files stay distinguishable
        Iterator.single(CrawlTried(r.doc_id, "quarantined",
          "truncated", "", -1L, ""))
      else walkRecordMembers(r.content, c.rawInflater, memberCap)
        .flatMap { step =>
        // member corruption: not this lane
        val rec = step.result.toTry.get
        if (rec.warcType != "response") None
        else QuarantineOps.attempt(docIdFromUri(rec)) match {
          // a capture whose own URI is defective quarantines — it
          // must never kill the stage (the per-capture contract)
          case Left(cls) =>
            Some(CrawlTried(-1L, "quarantined", cls, "", -1L, ""))
          case Right(id) =>
            QuarantineOps.attempt {
              val http = HttpOps.parseResponse(rec.block)
              CharsetOps.transcodeDeclared(http.body, http.charset)
            } match {
              case Right((detected, text)) =>
                val utf8 = text.getBytes(UTF_8)
                Some(CrawlTried(id, "ok", "", detected,
                  utf8.length.toLong, c.md5Hex(utf8)))
              case Left(cls) =>
                Some(CrawlTried(id, "quarantined", cls, "", -1L, ""))
            }
        }
      }
    }

  /** One WARC file's witnesses: record count, per-type block lengths,
    * the response body's MD5, and the response's target URI — all
    * replayable by the oracle from the original document row. */
  final case class WarcMeta(doc_id: Long, n_records: Long,
      info_len: Long, req_len: Long, resp_len: Long, resp_md5: String,
      target_uri: String)

  /** Batch WARC read: gzip member walk + record framing + WARC-Type
    * dispatch in one kernel pass; record blocks never leave the
    * task. Fail-loud by
    * contract — route through [[QuarantineOps.attempt]] for the
    * production lane. */
  def readWarcAll(spark: SparkSession,
      media: DataFrame): Dataset[WarcMeta] =
    Multimodal.mapMedia(media) { (c, r) =>
      val records = parseRecords(
        CompressedOps.gunzipWith(r.content, c.rawInflater))
      def one(t: String): WarcRecord = {
        val of = records.filter(_.warcType == t)
        require(of.length == 1,
          s"WARC: expected one $t record, got ${of.length}")
        of.head
      }
      val resp = one("response")
      WarcMeta(r.doc_id, records.length.toLong,
        one("warcinfo").block.length.toLong,
        one("request").block.length.toLong,
        resp.block.length.toLong, c.md5Hex(resp.block),
        resp.headers.getOrElse("WARC-Target-URI", ""))
    }

  /** Multi-document file rows as [[Multimodal.MediaRow]]s keyed by
    * file id. */
  private def files(media: DataFrame): DataFrame =
    media.select(col("file_id").cast("long").as("doc_id"), col("content"))

  /** The fail-loud streaming walk of one file's response records: an
    * empty file or a corrupt member fails the stage. */
  private def responses(c: Multimodal.Codecs, r: Multimodal.MediaRow,
      memberCap: Int): Iterator[WarcRecord] = {
    require(r.content.nonEmpty, s"WARC: file ${r.doc_id} is empty")
    walkRecordMembers(r.content, c.rawInflater, memberCap)
      .map(_.result.toTry.get)
      .filter(_.warcType == "response")
  }
}
