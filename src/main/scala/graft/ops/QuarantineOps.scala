package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal.MediaRow

/** Corrupt-payload QUARANTINE lane — the production counterpart of the
  * codec family's fail-loud contract. Every codec in this library
  * throws on corruption by design ([[CompressedOps.gunzipWith]],
  * [[ImageCodec.decode]], [[TarCodec.decode]], [[AudioCodec.decodeWav]],
  * [[VideoCodec.decodeY4m]]): that is correct for CERTIFICATION (a
  * planted bit flip must never decode to garbage), but fatal in a real
  * crawl ingest — ONE corrupt member in a billion-blob corpus would
  * kill the stage and with it the job. The quarantine lane keeps both
  * contracts: the `try*` operators here wrap the UNCHANGED fail-loud
  * decoders, route each failure to a quarantined row carrying a STABLE
  * error class (so per-class accounting is a groupBy away), and leave
  * good rows byte-identical to what the all-clean path produces
  * (QuarantineSpec proves equality row by row).
  *
  * Error classes are derived from the decoders' own diagnostics, not
  * from knowledge of how the corruption was planted — the classifier
  * maps the codec family's message vocabulary (every codec spells its
  * integrity failures with the same words: "magic"/"signature",
  * "CRC"/"checksum", "truncated", "unreasonable"/"overflows") onto
  * five stable classes. New codecs inherit the vocabulary and
  * therefore the classes.
  *
  * Scale shape: identical to the codecs themselves — row-local,
  * map-shaped `mapPartitions` work; a quarantined row costs one
  * exception unwind instead of a task failure + stage retry + job
  * abort. Payload bytes never leave the task either way; only witness
  * or (doc_id, error_class) columns travel. The quarantined table is
  * as partitioned as the corpus — there is no skew trap because the
  * lane adds no shuffle at all.
  *
  * Beyond-reference surface: the reference engine panics on malformed
  * input at best (SURVEY §2.6; reference src/datasources/mod.rs:281 is
  * a literal `panic!` on end-of-stream).
  */
object QuarantineOps {

  /** Map a decode failure onto its stable error class. The match order
    * puts the most specific vocabulary first: an integrity failure
    * ("CRC"/"checksum"/"ISIZE") outranks "truncated" (a corrupt
    * stream often LOOKS truncated after the real diagnosis), and
    * magic/signature failures outrank everything (nothing else about
    * the payload can be trusted once the format sniff fails). */
  def classify(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("")
    if (m.contains("magic") || m.contains("signature") ||
        m.contains("not a RIFF") || m.contains("payload too short"))
      "bad_magic"
    else if (m.contains("CRC") || m.contains("checksum") ||
        m.contains("ISIZE") || m.contains("size mismatch"))
      "integrity"
    else if (m.contains("truncated") || m.contains("unterminated"))
      "truncated"
    else if (m.contains("unreasonable") || m.contains("overflow") ||
        m.contains("outside the file") || m.contains("exceeds"))
      "hostile_header"
    else "decode_error"
  }

  /** Run one fail-loud decode under the quarantine contract: the
    * result, or the failure's stable class. Only non-fatal throwables
    * are absorbed — an executor OOM or interrupt still fails the task
    * (quarantine is for corrupt DATA, not a broken process). */
  def attempt[T](f: => T): Either[String, T] =
    try Right(f)
    catch { case scala.util.control.NonFatal(e) => Left(classify(e)) }

  /** One image decode outcome: `status` ok/quarantined; witnesses are
    * present exactly when the decode succeeded. */
  final case class TriedImage(doc_id: Long, status: String,
      error_class: Option[String], width: Option[Int],
      height: Option[Int], format: Option[String], px_sum: Option[Long])

  /** The quarantine-lane image decode: the same partition-wise pass
    * as [[Multimodal.decodeAll]] (shared magic sniffer, one native
    * Inflater per partition for the PNG arm), but corruption yields a
    * quarantined ROW instead of a dead STAGE. Good rows carry exactly
    * the witnesses the fail-loud path produces. */
  def tryDecodeImageAll(spark: SparkSession,
      media: DataFrame): Dataset[TriedImage] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val infl = new java.util.zip.Inflater(false)
      Multimodal.endOnTaskCompletion(() => infl.end())
      rows.map { r =>
        attempt(ImageCodec.decode(r.content, infl)) match {
          case Right(img) =>
            TriedImage(r.doc_id, "ok", None, Some(img.width),
              Some(img.height), Some(img.format),
              Some(ImageCodec.pixelSum(img.rgb)))
          case Left(cls) =>
            TriedImage(r.doc_id, "quarantined", Some(cls), None, None,
              None, None)
        }
      }
    }
  }

  /** The PLANTED-corruption image corpus the quarantine oracle runs
    * over: the clean [[Multimodal.mixedImageTable]] payload (PPM /
    * BMP / PNG by cp0 mod 3) for most docs, with one corruption class
    * planted per `doc_id mod 8` — each chosen so the decoder's OWN
    * diagnosis is deterministic:
    *
    *   - 0 → first two bytes overwritten ("ZZ"): the magic sniff
    *     fails → `bad_magic`;
    *   - 1 → a PPM declaring 16777216×16777216 (w·h·3 overflows the
    *     pixel-buffer bound): header parse fails → `hostile_header`;
    *   - 2 → a PPM with its final pixel byte cut off: plane bounds
    *     check fails → `truncated`;
    *   - 3 → a PNG with one bit flipped in the IDAT chunk's stored
    *     CRC-32: chunk verification fails → `integrity`;
    *   - 4 → a baseline JPEG with its tail (EOI + entropy bytes) cut
    *     off: the scan's bit reader hits the end → `truncated`;
    *   - 5..7 → clean (the mixed-format payload, untouched).
    *
    * The planting rules are pure arithmetic on (doc_id, text), so the
    * DuckDB oracle replays status + class + clean-row witnesses
    * without ever seeing a payload byte. */
  def corruptImageTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, false)
        Multimodal.endOnTaskCompletion(() => defl.end())
        rows.map { case (id, text) =>
          val (cp0, w, h, rgb) = Multimodal.genImage(text)
          def clean: Array[Byte] = cp0 % 3 match {
            case 0 => ImageCodec.encodePpm(w, h, rgb)
            case 1 => ImageCodec.encodeBmp(w, h, rgb)
            case _ => PngCodec.encodeWith(w, h, rgb, defl)
          }
          val bytes = (id % 8) match {
            case 0 =>
              val b = clean
              b(0) = 'Z'.toByte; b(1) = 'Z'.toByte; b
            case 1 =>
              "P6\n16777216 16777216\n255\nxx".getBytes(
                java.nio.charset.StandardCharsets.US_ASCII)
            case 2 =>
              val b = ImageCodec.encodePpm(w, h, rgb)
              java.util.Arrays.copyOf(b, b.length - 1)
            case 3 =>
              val b = PngCodec.encodeWith(w, h, rgb, defl)
              // last 12 bytes are IEND; byte -13 is the final byte of
              // the IDAT chunk's stored CRC-32
              b(b.length - 13) = (b(b.length - 13) ^ 0x01).toByte; b
            case 4 =>
              val (_, bw, bh, blocks) = Multimodal.genBlockImage(text)
              val b = JpegCodec.encodeGrayBlocks(bw, bh, blocks)
              // drop EOI + two entropy bytes: always inside the scan
              // (the smallest constant-block file still carries >= 7
              // entropy bytes), never into the SOS header — so the
              // diagnosis is deterministically `truncated`
              java.util.Arrays.copyOf(b, b.length - 4)
            case _ => clean
          }
          (id, bytes)
        }
      }
      .toDF("doc_id", "content")
  }
}
