package graft.ops

import java.nio.ByteBuffer
import java.nio.charset.{Charset, CharacterCodingException,
  CodingErrorAction}
import java.nio.charset.StandardCharsets.{UTF_8, UTF_16LE, UTF_16BE}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Charset sniffing + transcoding to UTF-8 — the stage between raw
  * crawl bytes and every text gate. A real web corpus is NOT UTF-8:
  * legacy pages arrive as windows-1252 and Shift_JIS (and UTF-16
  * exports with BOMs), and feeding their bytes to a UTF-8 pipeline
  * silently corrupts or drops exactly the non-English documents a
  * multilingual corpus needs. The sniffer here is the standard
  * layered heuristic:
  *
  *   1. BOM (authoritative): `EF BB BF` → UTF-8, `FF FE` → UTF-16LE,
  *      `FE FF` → UTF-16BE — stripped, never part of the text;
  *   2. strict UTF-8 validation (REPORT, not REPLACE — a malformed
  *      sequence must not become U+FFFD garbage);
  *   3. Shift_JIS, only when a lead byte (0x81-0x9F / 0xE0-0xEF) is
  *      present AND the whole stream decodes strictly — the lead-byte
  *      precondition keeps single-high-byte Latin text out;
  *   4. windows-1252 (strict: its five unmapped bytes still reject);
  *   5. otherwise the bytes are undecodable → fail loud (the
  *      quarantine lane classifies it like any codec corruption).
  *
  * Decoders are the JDK's own charset implementations (public
  * platform API) in REPORT mode; the op's value is the deterministic
  * sniff order, the BOM handling, and the byte-exact UTF-8 witness
  * contract — the oracle replays the transcoded text's UTF-8 length
  * and MD5 from the original row, so a match certifies the full
  * encode → sniff → decode → UTF-8 round trip.
  *
  * Scale shape: row-local, map-shaped work in the codec kernel; raw and
  * transcoded bytes never leave the task, only witness columns
  * travel.
  */
object CharsetOps {

  private val Cp1252: Charset = Charset.forName("windows-1252")
  private val Sjis: Charset = Charset.forName("Shift_JIS")

  private def decodeStrict(bytes: Array[Byte], off: Int,
      cs: Charset): String =
    cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(ByteBuffer.wrap(bytes, off, bytes.length - off))
      .toString

  private def tryStrict(bytes: Array[Byte], off: Int,
      cs: Charset): Option[String] =
    try Some(decodeStrict(bytes, off, cs))
    catch { case _: CharacterCodingException => None }

  /** True if any byte sits in the Shift_JIS double-byte LEAD ranges —
    * the precondition for even attempting a Shift_JIS decode. */
  private def hasSjisLead(bytes: Array[Byte]): Boolean =
    bytes.exists { b =>
      val u = b & 0xff
      (u >= 0x81 && u <= 0x9f) || (u >= 0xe0 && u <= 0xef)
    }

  /** Sniff the charset and transcode to a JVM String (≡ UTF-8 on
    * output). Returns (detected-label, text). Fail-loud: bytes
    * decodable by none of the candidates throw with the codec
    * family's vocabulary. */
  def sniffTranscode(bytes: Array[Byte]): (String, String) = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      ("utf-8-bom",
        tryStrict(bytes, 3, UTF_8).getOrElse(throw
          new IllegalArgumentException(
            "charset: malformed UTF-8 after a UTF-8 BOM")))
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xfe)
      ("utf-16le",
        tryStrict(bytes, 2, UTF_16LE).getOrElse(throw
          new IllegalArgumentException(
            "charset: malformed UTF-16LE after its BOM")))
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe &&
        (bytes(1) & 0xff) == 0xff)
      ("utf-16be",
        tryStrict(bytes, 2, UTF_16BE).getOrElse(throw
          new IllegalArgumentException(
            "charset: malformed UTF-16BE after its BOM")))
    else tryStrict(bytes, 0, UTF_8).map(("utf-8", _))
      .orElse(
        if (hasSjisLead(bytes)) tryStrict(bytes, 0, Sjis)
          .map(("shift_jis", _))
        else None)
      .orElse(tryStrict(bytes, 0, Cp1252).map(("windows-1252", _)))
      .getOrElse(throw new IllegalArgumentException(
        "charset: undecodable byte sequence (no candidate charset " +
          "decodes it strictly)"))
  }

  /** Transcode with a DECLARED charset (e.g. the Content-Type
    * `charset=` parameter from [[HttpOps]]): the declaration wins
    * over the heuristic — but a BOM still outranks it (the in-band
    * witness beats the out-of-band claim) PROVIDED the BOM-implied
    * decode succeeds strictly: a legacy body that merely starts with
    * BOM-looking bytes (cp1252 text opening 'ÿþ…' is 0xFF 0xFE) must
    * not lose its correct declared decode to a failing UTF-16
    * force-decode — on BOM-decode failure the declaration is tried
    * next, then the sniffer. (Residual, documented: an even-length
    * legacy body whose UTF-16 decode happens to succeed still loses
    * to the BOM — strict success is the only in-band evidence
    * available.) An undecodable body under the declared charset
    * falls back to the sniffer rather than producing U+FFFD
    * garbage. */
  def transcodeDeclared(bytes: Array[Byte],
      declared: Option[String]): (String, String) = {
    val bom = bytes.length >= 2 &&
      (((bytes(0) & 0xff) == 0xef && bytes.length >= 3 &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) ||
        ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) ||
        ((bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff))
    def viaDeclared: (String, String) = declared.flatMap { name =>
      val cs =
        try Some(Charset.forName(name))
        catch { case _: Exception => None }
      cs.flatMap(c => tryStrict(bytes, 0, c).map(
        (c.name().toLowerCase, _)))
    }.getOrElse(sniffTranscode(bytes))
    if (bom)
      try sniffTranscode(bytes)
      catch { case _: IllegalArgumentException => viaDeclared }
    else viaDeclared
  }

  /** The MIXED-ENCODING corpus the oracle runs over: each doc's text
    * (plus a per-arm non-ASCII marker that PROVES the right decoder
    * ran) encoded by `doc_id mod 5`:
    *
    *   - 0 → UTF-8 with BOM (witness: the BOM is stripped, text
    *     unchanged);
    *   - 1 → windows-1252 of text + " café!" (0xE9 is an SJIS lead
    *     byte but '!' is no SJIS trail — the sniff must fall through
    *     to cp1252);
    *   - 2 → Shift_JIS of text + " 日本語" (double-byte CJK);
    *   - 3 → UTF-16LE with BOM of text + " ★";
    *   - 4 → plain UTF-8 of text + " ü" (multi-byte valid UTF-8).
    *
    * Corpus text is ASCII (TESTDATA), so every arm encodes losslessly
    * and the oracle replays the UTF-8 witnesses as text || marker. */
  def charsetTable(spark: SparkSession, docs: DataFrame): DataFrame =
    Multimodal.encodeDocs(StorageOps.fanOutForKernel(
        Multimodal.docText(docs))) { (_, id, text) =>
      (id % 5) match {
        case 0 =>
          Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
            text.getBytes(UTF_8)
        case 1 => (text + " café!").getBytes(Cp1252)
        case 2 => (text + " 日本語").getBytes(Sjis)
        case 3 =>
          Array[Byte](0xff.toByte, 0xfe.toByte) ++
            (text + " ★").getBytes(UTF_16LE)
        case _ => (text + " ü").getBytes(UTF_8)
      }
    }

  /** One transcode outcome's witnesses: the detected charset, the
    * UTF-8 byte length, and the MD5 of the UTF-8 bytes. */
  final case class TranscodeMeta(doc_id: Long, detected: String,
      n_out: Long, out_md5: String)

  /** Batch sniff + transcode: one kernel pass; only witness columns
    * travel. */
  def transcodeAll(spark: SparkSession,
      media: DataFrame): Dataset[TranscodeMeta] =
    Multimodal.mapMedia(media) { (c, r) =>
      val (detected, text) = sniffTranscode(r.content)
      val out = text.getBytes(UTF_8)
      TranscodeMeta(r.doc_id, detected, out.length.toLong, c.md5Hex(out))
    }
}
