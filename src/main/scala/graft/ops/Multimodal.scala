package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata structs alongside.
  * Beyond-reference extension (the reference has exactly 7 scalar types,
  * no binary — SURVEY §1.2).
  *
  * The Spark-side architecture is the real deliverable here:
  *   - payloads stay binary end-to-end (never stringified);
  *   - decode/feature-extract runs batch-wise per partition via the
  *     typed Dataset API (`mapPartitions` — the Scala analogue of
  *     `mapInPandas`: one iterator per partition, so per-batch library
  *     setup cost amortizes and memory stays bounded by partition size);
  *   - metadata is a proper struct column so Catalyst can prune it.
  *
  * As of round 11 the image decode/resize path is a REAL pure-JVM
  * codec ([[ImageCodec]]: binary PPM + 24-bit BMP — header parse, row
  * padding, bottom-up order, actual pixel extraction and
  * nearest-neighbor resampling), fed by [[imageTable]]'s real encoded
  * payloads. The payload-agnostic operators (perceptual hash, feature
  * extraction, frame sampling) still accept ANY binary payload — an
  * embedding model or A/V codec would swap into the same
  * partition-wise slots.
  */
object Multimodal {

  /** One media row: id + opaque payload. */
  case class MediaRow(doc_id: Long, content: Array[Byte])

  /** Release native resources when the task finishes: zlib state is
    * ~270 KB off-heap per Deflater/Inflater, and leaving it to
    * finalization accumulates un-freed allocations on a long-lived
    * executor. No-op outside a task (driver-side unit-test calls). */
  private[graft] def endOnTaskCompletion(end: () => Unit): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => end()))

  /** The first two codepoints of a doc's text — the shared seed of
    * every deterministic payload generator (and of every DuckDB
    * oracle's `ascii(substr(text, 1, 1))` replay). */
  private[ops] def genCodepoints(text: String): (Int, Int) = {
    val cp0 = if (text.nonEmpty) text.codePointAt(0) else 0
    val cp1 =
      if (text.length > Character.charCount(cp0))
        text.codePointAt(Character.charCount(cp0))
      else 0
    (cp0, cp1)
  }

  /** The shared deterministic-picture generator: (cp0, w, h, rgb)
    * for a doc — ONE definition, used by every image-bearing table
    * builder so the five oracle replays that re-derive this
    * arithmetic can never drift from only SOME of the generators. */
  /** Dimensions of [[genImage]]'s picture WITHOUT materializing its
    * pixel plane — for manifest passes that need only (w, h). */
  private[ops] def genDims(text: String): (Int, Int) = {
    val (cp0, cp1) = genCodepoints(text)
    (cp0 % 64 + 16, cp1 % 64 + 16)
  }

  private[ops] def genImage(text: String): (Int, Int, Int, Array[Byte]) = {
    val (cp0, cp1) = genCodepoints(text)
    val (w, h) = genDims(text)
    val s0 = (cp0 * 7 + cp1 * 13) % 256
    // while-loop fill, not Array.tabulate: Function1's Byte return is
    // unspecialized, so tabulate boxes every pixel byte — ~100M
    // allocations per corpus pass across the image-table builders
    val n = w * h * 3
    val rgb = new Array[Byte](n)
    var i = 0
    var v = s0 % 256 // (s0 + 31·i) mod 256 maintained incrementally
    while (i < n) {
      rgb(i) = v.toByte
      v += 31
      if (v >= 256) v -= 256
      i += 1
    }
    (cp0, w, h, rgb)
  }

  /** Decoded metadata + the pixel-content witness (`px_sum` = sum of
    * all decoded RGB bytes, unsigned) the oracle recomputes. */
  case class DecodedMeta(doc_id: Long, width: Int, height: Int,
      format: String, n_bytes: Long, px_sum: Long)

  /** The CONSTANT-BLOCK picture generator shared by the JPEG corpus
    * and the 4-format mixed corpus: w = (cp0 mod 4 + 1)·16,
    * h = (cp1 mod 4 + 1)·16 (multiples of 16 so 4:2:0 MCUs tile
    * exactly), 8×8 block b (raster order) is the flat gray value
    * (s0 + 17·b) mod 256. Constant blocks are the one picture family
    * JPEG represents LOSSLESSLY under all-ones quantization (only the
    * DC coefficient is nonzero — see [[JpegCodec]]), so the same
    * arithmetic feeds the lossless formats and every oracle replay. */
  private[ops] def genBlockImage(
      text: String): (Int, Int, Int, Array[Int]) = {
    val (cp0, cp1) = genCodepoints(text)
    val w = (cp0 % 4 + 1) * 16
    val h = (cp1 % 4 + 1) * 16
    val s0 = (cp0 * 7 + cp1 * 13) % 256
    val blocks = Array.tabulate((w / 8) * (h / 8))(b => (s0 + 17 * b) % 256)
    (cp0, w, h, blocks)
  }

  /** Expand a block grid to the raster RGB plane (all three channels
    * equal the block gray — the grayscale the JPEG arm encodes). */
  private[ops] def blocksToRgb(w: Int, h: Int,
      blocks: Array[Int]): Array[Byte] = {
    val bw = w / 8
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = blocks((y / 8) * bw + x / 8).toByte
        val d = (y * w + x) * 3
        rgb(d) = v; rgb(d + 1) = v; rgb(d + 2) = v
        x += 1
      }
      y += 1
    }
    rgb
  }

  /** Build a media table of REAL BASELINE JPEGs from documents: the
    * constant-block picture per doc ([[genBlockImage]]), encoded as
    * interleaved 4:2:0 baseline JPEG by [[JpegCodec.encodeGrayBlocks]]
    * — real DQT/DHT/SOF0/SOS syntax, real Huffman-coded DC deltas.
    * [[decodeAll]] gets the pixels back by a full general baseline
    * decode (entropy scan, dequant, IDCT, upsample, color convert),
    * not by trusting the generator. */
  def jpegImageTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val (_, w, h, blocks) = genBlockImage(text)
          (id, JpegCodec.encodeGrayBlocks(w, h, blocks))
        }
      }
      .toDF("doc_id", "content")
  }

  /** Build a media table of PROGRESSIVE (SOF2) JPEGs from documents:
    * the same constant-block picture as [[jpegImageTable]], encoded
    * with spectral selection + successive approximation by
    * [[JpegCodec.encodeGrayProgressive]] (DC-first at Al=1, the AC
    * band as EOB runs, a DC refinement scan) — the multi-scan layout
    * real web JPEGs ship in. Same lossless-witness contract: the DC
    * quantizer folds out exactly, so the oracle replays every pixel. */
  def progressiveJpegTable(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val (_, w, h, blocks) = genBlockImage(text)
          (id, JpegCodec.encodeGrayProgressive(w, h, blocks))
        }
      }
      .toDF("doc_id", "content")
  }

  /** The FOUR-format heterogeneous corpus (cp0 mod 4 → PPM / BMP /
    * PNG / JPEG) over the constant-block picture — the realistic
    * media-crawl mix including the lossy format, decodable to one
    * shared pixel witness because constant blocks survive JPEG
    * exactly. The decode stage dispatches per row by MAGIC BYTES
    * through the same sniffer as [[mixedImageTable]]. */
  def mixed4ImageTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, false)
        endOnTaskCompletion(() => defl.end())
        rows.map { case (id, text) =>
          val (cp0, w, h, blocks) = genBlockImage(text)
          val bytes = cp0 % 4 match {
            case 0 => ImageCodec.encodePpm(w, h, blocksToRgb(w, h, blocks))
            case 1 => ImageCodec.encodeBmp(w, h, blocksToRgb(w, h, blocks))
            case 2 => PngCodec.encodeWith(w, h,
              blocksToRgb(w, h, blocks), defl)
            case _ => JpegCodec.encodeGrayBlocks(w, h, blocks)
          }
          (id, bytes)
        }
      }
      .toDF("doc_id", "content")
  }

  /** Build a media table from documents: the UTF-8 text bytes stand in
    * for an OPAQUE payload (perceptual hash / feature extraction /
    * frame sampling are payload-agnostic). For the real image codec
    * path use [[imageTable]]. */
  // no fan-out: this payload is the raw text bytes and its consumers
  // (perceptual hash, feature counts) are cheap byte loops — measured
  // r14: fanning this out traded a free 1-task pass for a text shuffle
  // plus wider downstream stages with no wall win (ahash_dups 2.3 ->
  // 2.7 s). The REAL codec tables (image/png/jpeg/tar) fan out.
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("text").cast("binary").as("content"))

  /** Build a media table of REAL ENCODED IMAGES from documents: each
    * doc becomes a deterministic synthetic picture — dimensions from
    * the first two text codepoints (cp0 % 64 + 16 × cp1 % 64 + 16, the
    * same arithmetic the round-2..10 stub used, so the oracle replays
    * it), pixel byte i = (cp0·7 + cp1·13 + 31·i) mod 256 — encoded as
    * binary PPM (even cp0) or 24-bit BMP (odd cp0) by [[ImageCodec]].
    * The payloads are REAL format bytes: [[decodeAll]] gets its
    * dimensions back by parsing headers, not by trusting the
    * generator, and the planted-image specs cross-check the codec on
    * hand-built goldens. Runs in the same partition-wise batch slot
    * as decode (encode cost is row-local, map-shaped at any scale). */
  def imageTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val (cp0, w, h, rgb) = genImage(text)
          val bytes =
            if (cp0 % 2 == 0) ImageCodec.encodePpm(w, h, rgb)
            else ImageCodec.encodeBmp(w, h, rgb)
          (id, bytes)
        }
      }
      .toDF("doc_id", "content")
  }

  /** [[imageTable]]'s sibling for the COMPRESSED format: the same
    * deterministic picture per doc (identical dims / pixel-byte
    * arithmetic, so the oracle replay is shared), encoded as real PNG
    * by [[PngCodec]] — zlib-deflated scanlines whose filter type
    * cycles `y mod 5`, so decoding every payload exercises every
    * filter's reconstruction arithmetic. An oracle match on the
    * decoded `px_sum` therefore certifies chunk framing + CRC +
    * inflate + all five unfilter paths, not just header math. */
  def pngImageTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // one ~270 KB native zlib state per PARTITION, not per row
        val defl = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, false)
        endOnTaskCompletion(() => defl.end())
        rows.map { case (id, text) =>
          val (_, w, h, rgb) = genImage(text)
          (id, PngCodec.encodeWith(w, h, rgb, defl))
        }
      }
      .toDF("doc_id", "content")
  }

  /** The HETEROGENEOUS-corpus variant: format varies PER ROW
    * (cp0 mod 3 → PPM / BMP / PNG), which is what a real 100-TB
    * media crawl looks like — the decode stage must dispatch by
    * magic, not by a per-table format column. Same dims / pixel
    * arithmetic as [[imageTable]], so the oracle replay is shared;
    * a match certifies the sniffer routes every row to the right
    * parser (a PPM byte plane mis-read as BMP's padded bottom-up
    * BGR rows would shift px_sum immediately). */
  def mixedImageTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, false)
        endOnTaskCompletion(() => defl.end())
        rows.map { case (id, text) =>
          val (cp0, w, h, rgb) = genImage(text)
          val bytes = cp0 % 3 match {
            case 0 => ImageCodec.encodePpm(w, h, rgb)
            case 1 => ImageCodec.encodeBmp(w, h, rgb)
            case _ => PngCodec.encodeWith(w, h, rgb, defl)
          }
          (id, bytes)
        }
      }
      .toDF("doc_id", "content")
  }

  /** Decoded PNG metadata: `raw_len` is the INFLATED scanline-stream
    * length `h·(1 + 3w)` — a witness of the decompressed
    * serialization (the compressed container length is
    * implementation-defined and deliberately NOT exposed to the
    * oracle), `px_sum` the full unfiltered pixel plane. */
  case class PngMeta(doc_id: Long, width: Int, height: Int,
      format: String, raw_len: Long, px_sum: Long)

  /** Batch PNG decode: the same partition-wise slot as [[decodeAll]],
    * but over genuinely COMPRESSED payloads — sniffed and decoded by
    * the shared [[ImageCodec.decode]] front door (so the magic
    * dispatch is on the tested path), witnessed by the inflated
    * stream length and the full decoded plane. */
  def decodePngAll(spark: SparkSession,
      media: DataFrame): Dataset[PngMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val infl = new java.util.zip.Inflater(false)
      endOnTaskCompletion(() => infl.end())
      rows.map { r =>
        val img = ImageCodec.decode(r.content, infl)
        PngMeta(r.doc_id, img.width, img.height, img.format,
          (1L + img.width * 3L) * img.height,
          ImageCodec.pixelSum(img.rgb))
      }
    }
  }

  /** Batch decode: partition-wise iteration over binary payloads →
    * typed metadata rows via the REAL [[ImageCodec]] (PPM/BMP magic
    * sniffing, header parse, full pixel extraction — `px_sum`
    * witnesses every decoded byte). This is the `mapInPandas`-shaped
    * step: per-partition setup happens once, rows stream through. */
  def decodeAll(spark: SparkSession, media: DataFrame): Dataset[DecodedMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val infl = new java.util.zip.Inflater(false)
      endOnTaskCompletion(() => infl.end())
      rows.map { r =>
        val img = ImageCodec.decode(r.content, infl)
        DecodedMeta(r.doc_id, img.width, img.height, img.format,
          r.content.length.toLong, ImageCodec.pixelSum(img.rgb))
      }
    }
  }

  // ---- tar shards: the WebDataset container ---------------------------

  /** Build a table of REAL TAR SHARDS ([[TarCodec]]): each doc
    * becomes a POSIX ustar archive holding the WebDataset member
    * pair — `<id>.txt` (the UTF-8 text) and `<id>.ppm` (the shared
    * deterministic picture, PPM-encoded). Decoding must walk real
    * 512-byte headers, verify checksums, honor padding, and then
    * decode the INNER image codec — the two-layer composition a
    * multimodal shard reader actually performs. */
  def tarShardTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val (_, w, h, rgb) = genImage(text)
          val tar = TarCodec.encode(Seq(
            s"$id.txt" ->
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            s"$id.ppm" -> ImageCodec.encodePpm(w, h, rgb)))
          (id, tar)
        }
      }
      .toDF("doc_id", "content")
  }

  /** One decoded shard's witnesses: member count, total archive
    * bytes (headers + 512-padding + end blocks — the layout
    * arithmetic), MD5 of the text member, and the pixel sum of the
    * DECODED image member (tar walk composed with the image codec). */
  case class TarMeta(doc_id: Long, n_members: Long, tar_bytes: Long,
      txt_md5: String, img_px: Long)

  /** Batch shard decode: tar walk + inner PPM decode in one
    * partition-wise pass; member bytes never leave the task. */
  def decodeTarAll(spark: SparkSession,
      media: DataFrame): Dataset[TarMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val members = TarCodec.decode(r.content)
        val txt = members.collectFirst {
          case (n, d) if n.endsWith(".txt") => d }
          .getOrElse(throw new IllegalArgumentException(
            s"shard ${r.doc_id}: no .txt member"))
        val img = members.collectFirst {
          case (n, d) if n.endsWith(".ppm") => d }
          .getOrElse(throw new IllegalArgumentException(
            s"shard ${r.doc_id}: no .ppm member"))
        md.reset()
        val hex = md.digest(txt).map("%02x".format(_)).mkString
        TarMeta(r.doc_id, members.length.toLong,
          r.content.length.toLong, hex,
          ImageCodec.pixelSum(ImageCodec.decode(img).rgb))
      }
    }
  }

  /** Shard → perceptual hash in ONE partition pass: tar walk, inner
    * PPM decode, 8×8 average-hash — the front of a shard-corpus
    * image-dedup pipeline (member and pixel buffers never leave the
    * task; 16 hex chars per shard travel). */
  def ahashTarAll(spark: SparkSession,
      media: DataFrame): Dataset[MediaAhash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val img = TarCodec.decode(r.content).collectFirst {
          case (n, d) if n.endsWith(".ppm") => d }
          .getOrElse(throw new IllegalArgumentException(
            s"shard ${r.doc_id}: no .ppm member"))
        val h = ImageCodec.averageHash(ImageCodec.decode(img))
        MediaAhash(r.doc_id, h,
          java.lang.Long.bitCount(
            java.lang.Long.parseUnsignedLong(h, 16)).toLong)
      }
    }
  }

  /** One assembled shard's witnesses: member/doc counts, the BUILT
    * archive's byte length (certified against the oracle's layout
    * arithmetic), total text payload bytes, and a decode-back member
    * count (the builder's own output re-walked by the decoder). */
  case class ShardMeta(shard_id: Long, n_docs: Long, n_members: Long,
      tar_bytes: Long, txt_bytes: Long, reread_members: Long)

  /** SHARD EXPORT — the WRITE side of the WebDataset convention:
    * group documents into shards (doc_id mod `nShards`), order
    * members deterministically, and BUILD one real ustar archive per
    * shard holding each doc's `id.txt` + `id.ppm` pair. This is the
    * export counterpart of [[decodeTarAll]] (and the media analogue
    * of pipeline_pack_export): the one payload-bearing shuffle is
    * the grouping that the product REQUIRES — each shard's members
    * must meet in one task to be serialized — and nothing larger
    * than a shard ever exists at once. The built archive is
    * immediately re-walked by [[TarCodec.decode]] as a self-check
    * (`reread_members`), and its byte length is certified against
    * the oracle's independent layout arithmetic. */
  def shardExport(spark: SparkSession, docs: DataFrame,
      nShards: Int = 32): Dataset[ShardMeta] = {
    import spark.implicits._
    // no fan-out here: the groupBy below is the required payload
    // shuffle and already spreads the per-shard build across nShards
    docs.select(col("doc_id").cast("long"), col("text"))
      .withColumn("shard_id", pmod(col("doc_id"), lit(nShards))
        .cast("long"))
      .groupBy(col("shard_id"))
      // struct fields named _1/_2 so the tuple encoder resolves;
      // sort_array orders by the first field = doc_id (deterministic
      // member order inside the shard)
      .agg(sort_array(collect_list(struct(col("doc_id").as("_1"),
        col("text").as("_2")))).as("members"))
      .select(col("shard_id").as("_1"), col("members").as("_2"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (sid, members) =>
        val entries = members.flatMap { case (id, text) =>
          val (_, w, h, rgb) = genImage(text)
          Seq(
            s"$id.txt" ->
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            s"$id.ppm" -> ImageCodec.encodePpm(w, h, rgb))
        }
        val tar = TarCodec.encode(entries)
        ShardMeta(sid, members.size.toLong, entries.size.toLong,
          tar.length.toLong,
          members.map(_._2.getBytes(
            java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum,
          TarCodec.decode(tar).length.toLong)
      }
  }

  /** One byte-budget shard's witnesses: doc/member counts, the BUILT
    * archive's byte length, text payload bytes, and the budget
    * verdict (a shard fits unless it is a single oversize member —
    * the one case next-fit cannot avoid). */
  case class BudgetShardMeta(shard_id: Long, n_docs: Long,
      n_members: Long, txt_bytes: Long, tar_bytes: Long, fits: Boolean)

  /** BYTE-BUDGET shard export — how real WebDataset writers actually
    * cut shards: not `doc_id mod N` ([[shardExport]]) but "pack
    * members until the next one would blow the size budget, then
    * close the shard". Composes [[graft.ops.PackOps.nextFitPack]]'s
    * distribution discipline with the tar build:
    *
    *   1. a NARROW manifest pass computes each doc's member-pair tar
    *     footprint (two 512-byte headers + both payloads 512-padded —
    *     pure layout arithmetic, no payload built yet);
    *   2. the sequential next-fit walk (no splitting: a doc whose
    *     pair doesn't fit the remainder closes the shard; a pair
    *     larger than the whole budget gets its own shard) runs per
    *     FIXED-SIZE id bucket as one `aggregate` HOF over the
    *     bucket's sorted (id, bytes) array — deterministic arithmetic
    *     bucket boundaries, memory bounded by `bucketSize`;
    *   3. per-bucket shard counts concatenate into global shard ids
    *     via [[graft.ops.PackOps.withGlobalOffset]] (one bounded
    *     carry row per partition, never per bucket);
    *   4. placements join back to the corpus and each shard's members
    *     meet in ONE task to be serialized — the only payload-bearing
    *     shuffle, and the one the product requires.
    *
    * The budget covers the WHOLE archive: members walk against
    * `budget − 1024` so the two end-of-archive zero blocks always
    * fit. Every shard's built length is certified against the
    * oracle's independent walk + layout arithmetic, and `fits`
    * asserts the contract: `tar_bytes <= budget` unless the shard is
    * one oversize member pair. */
  def shardExportBudget(spark: SparkSession, docs: DataFrame,
      budgetBytes: Long = 16384L, bucketSize: Long = 64L): DataFrame = {
    import spark.implicits._
    require(budgetBytes > 1024, "budget must exceed the tar end blocks")
    val cap = budgetBytes - 1024L
    // 1. narrow manifest: the member-pair footprint from the SAME
    // generator arithmetic the build step uses (byte-exact by
    // construction, since both call genImage)
    val manifest = StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          // dims-only: the manifest never touches pixels, so don't
          // materialize genImage's w·h·3 array just to read (w, h)
          val (w, h) = genDims(text)
          val txt = text.getBytes(
            java.nio.charset.StandardCharsets.UTF_8).length.toLong
          val ppm = 9L + w.toString.length + h.toString.length +
            w.toLong * h * 3
          val mb = 512L + (txt + 511) / 512 * 512 +
            512L + (ppm + 511) / 512 * 512
          (id, mb)
        }
      }
      .toDF("id", "mb")
    // 2. the per-bucket sequential walk (mirrors PackOps.nextFitPack's
    // accumulator shape, without the spanning arm — shards never
    // split a member pair)
    val grouped = manifest
      .select(DedupOps.idiv(col("id"), lit(bucketSize)).as("bucket"),
        col("id"), col("mb"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("id"), col("mb"))))
        .as("ds"))
    val walk = expr(
      s"""aggregate(ds,
         |  named_struct('shard', 0L, 'fill', 0L,
         |    'out', cast(array() as array<struct<
         |      id: bigint, mb: bigint, shard_rel: bigint>>)),
         |  (acc, d) -> named_struct(
         |    'shard', acc.shard
         |      + if(acc.fill > 0L and acc.fill + d.mb > $cap, 1L, 0L),
         |    'fill', if(acc.fill > 0L and acc.fill + d.mb > $cap,
         |      d.mb, acc.fill + d.mb),
         |    'out', acc.out || array(named_struct(
         |      'id', d.id, 'mb', d.mb,
         |      'shard_rel', acc.shard
         |        + if(acc.fill > 0L and acc.fill + d.mb > $cap,
         |             1L, 0L)))),
         |  acc -> acc.out)""".stripMargin)
    val placed = grouped
      .select(col("bucket"), explode(walk).as("p"))
      .select(col("bucket"), col("p.id").as("id"), col("p.mb").as("mb"),
        col("p.shard_rel").as("shard_rel"))
      .localCheckpoint(true)
    // 3. global shard ids: exclusive scan of per-bucket shard counts
    val totals = placed.groupBy(col("bucket"))
      .agg((max(col("shard_rel")) + 1L).as("nb"))
    val bases = PackOps.withGlobalOffset(totals, "bucket", "nb", "base")
      .select(col("bucket"), col("base"))
    val withSid = placed.join(bases, Seq("bucket"))
      .select((col("base") + col("shard_rel")).as("shard_id"), col("id"))
    // 4. members meet their shard (the one payload shuffle), build +
    // self-check the archive, certify against the budget
    withSid
      .join(docs.select(col("doc_id").cast("long").as("id"), col("text")),
        Seq("id"))
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(col("id").as("_1"),
        col("text").as("_2")))).as("members"))
      .select(col("shard_id").as("_1"), col("members").as("_2"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (sid, members) =>
        val entries = members.flatMap { case (id, text) =>
          val (_, w, h, rgb) = genImage(text)
          Seq(
            s"$id.txt" ->
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            s"$id.ppm" -> ImageCodec.encodePpm(w, h, rgb))
        }
        val tar = TarCodec.encode(entries)
        require(TarCodec.decode(tar).length == entries.length,
          s"shard $sid: decode-back member count mismatch")
        BudgetShardMeta(sid, members.size.toLong, entries.size.toLong,
          members.map(_._2.getBytes(
            java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum,
          tar.length.toLong,
          tar.length <= budgetBytes || members.size == 1)
      }
      .toDF()
  }

  // ---- audio: real WAV/PCM16 payloads --------------------------------

  /** Build a media table of REAL ENCODED WAV CLIPS from documents:
    * each doc becomes a deterministic synthetic clip — an even frame
    * count and sample rate from the first two text codepoints
    * (n = (cp0 mod 768 + 256)·2 interleaved samples,
    * rate = 8000 + (cp1 mod 4)·4000, channels = cp1 mod 2 + 1),
    * sample i = ((s0 + 37·i² + 11·i) mod 4001) − 2000 (the quadratic
    * term keeps the waveform aperiodic so zero-crossings are
    * non-trivial) — encoded as canonical RIFF/WAVE PCM16 by
    * [[AudioCodec.encodeWav]]. [[decodeAudioAll]] gets everything
    * back by PARSING the container, not by trusting the generator. */
  def audioTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val (cp0, cp1) = genCodepoints(text)
          val n = (cp0 % 768 + 256) * 2
          val rate = 8000 + (cp1 % 4) * 4000
          val channels = cp1 % 2 + 1
          val s0 = (cp0 * 7 + cp1 * 13) % 256
          val samples = Array.tabulate(n)(i =>
            (((s0 + 37L * i * i + 11L * i) % 4001) - 2000).toShort)
          (id, AudioCodec.encodeWav(rate, channels, samples))
        }
      }
      .toDF("doc_id", "content")
  }

  /** Decoded-clip metadata + the integer-exact signal features the
    * oracle replays: `sq_sum` (energy), `n_zc` (strict sign
    * transitions over the interleaved stream), `peak` (max |s|),
    * `dur_ms` = frames·1000 div rate — all integer arithmetic. */
  case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, dur_ms: Long, sq_sum: Long, n_zc: Long,
      peak: Long)

  /** Batch WAV decode + featurize: one partition-wise pass, the
    * decoded sample buffer never leaves the task — only the witness
    * columns travel. */
  def decodeAudioAll(spark: SparkSession,
      media: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val a = AudioCodec.decodeWav(r.content)
        AudioMeta(r.doc_id, a.sampleRate, a.channels,
          a.samples.length.toLong,
          (a.samples.length / a.channels) * 1000L / a.sampleRate,
          AudioCodec.squareSum(a.samples),
          AudioCodec.zeroCrossings(a.samples),
          AudioCodec.peak(a.samples).toLong)
      }
    }
  }

  /** One resampled clip: `n_in` input frames, `n_out` output samples
    * at the target rate, `r_sq_sum` the integer energy of the
    * resampled signal. */
  case class AudioResampled(doc_id: Long, n_in: Long, n_out: Long,
      r_sq_sum: Long)

  /** Decode → deinterleave channel 0 → nearest-neighbor resample to
    * `targetRate` — the normalization pass a speech corpus runs
    * before feature extraction (models want one rate). All integer
    * arithmetic, replayed exactly by the oracle:
    * n_out = frames·targetRate div rate (floor, so downsampling
    * never reads past the end), output j samples input frame
    * j·frames div n_out, channel-0 value = interleaved[frame·ch].
    * Same partition-wise slot; buffers never leave the task. */
  def resampleAudioAll(spark: SparkSession, media: DataFrame,
      targetRate: Int): Dataset[AudioResampled] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val a = AudioCodec.decodeWav(r.content)
        val frames = a.samples.length / a.channels
        val nOut = (frames.toLong * targetRate / a.sampleRate).toInt
        var sq = 0L
        var j = 0
        while (j < nOut) {
          val src = (j.toLong * frames / nOut).toInt
          val v = a.samples(src * a.channels).toLong
          sq += v * v
          j += 1
        }
        AudioResampled(r.doc_id, frames.toLong, nOut.toLong, sq)
      }
    }
  }

  /** One fixed-length analysis frame: `f_n` samples (the tail frame
    * may be short), `f_sq_sum` its energy. */
  case class AudioFrame(doc_id: Long, frame_idx: Long, f_n: Long,
      f_sq_sum: Long)

  /** Framed energy over decoded audio — the windowed feature pass a
    * speech pipeline runs before VAD/segmentation: consecutive
    * `frameLen`-sample frames of the interleaved stream, each with
    * its integer energy. Decode and framing share the row (flatMap in
    * the same partition-wise slot), so per-clip sample buffers never
    * shuffle; output is the small (id, frame, n, energy) table. */
  def audioFramesAll(spark: SparkSession, media: DataFrame,
      frameLen: Int = 256): Dataset[AudioFrame] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val a = AudioCodec.decodeWav(r.content)
        a.samples.grouped(frameLen).zipWithIndex.map { case (fr, idx) =>
          AudioFrame(r.doc_id, idx.toLong, fr.length.toLong,
            AudioCodec.squareSum(fr))
        }
      }
    }
  }

  // ---- video: real Y4M payloads --------------------------------------

  /** Build a media table of REAL ENCODED Y4M STREAMS from documents:
    * each doc becomes a deterministic clip — even dimensions
    * w = (cp0 mod 12)·2 + 8, h = (cp1 mod 12)·2 + 8, frame count
    * (cp0 + cp1) mod 5 + 2, 25:1 fps for even cp0 / 30:1 for odd —
    * whose planar 4:2:0 frame f has byte i = (s0 + 11·f + 31·i)
    * mod 256, encoded by [[VideoCodec.encodeY4m]].
    * [[videoFramesAll]] gets everything back by PARSING the
    * container (header tokens, FRAME markers, plane layout). */
  def videoTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    StorageOps.fanOutForKernel(
      docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val (cp0, cp1) = genCodepoints(text)
          val w = (cp0 % 12) * 2 + 8
          val h = (cp1 % 12) * 2 + 8
          val nf = (cp0 + cp1) % 5 + 2
          val (fn, fd) = if (cp0 % 2 == 0) (25, 1) else (30, 1)
          val s0 = (cp0 * 7 + cp1 * 13) % 256
          val sz = VideoCodec.frameSize(w, h)
          val frames = (0 until nf).map(f =>
            Array.tabulate(sz)(i =>
              ((s0 + 11L * f + 31L * i) % 256).toByte))
          (id, VideoCodec.encodeY4m(w, h, fn, fd, frames))
        }
      }
      .toDF("doc_id", "content")
  }

  /** One decoded frame row: stream metadata + the integer plane
    * witnesses (`y_sum` luma, `c_sum` both chroma planes). */
  case class VideoFrame(doc_id: Long, width: Int, height: Int,
      fps_num: Int, n_frames: Long, frame_idx: Long, y_sum: Long,
      c_sum: Long)

  /** Batch Y4M decode + per-frame featurize: one partition-wise
    * flatMap — frame buffers never leave the task, only the
    * (frame, witness) rows travel. This is the video analogue of
    * [[decodeAll]]: real container parsing feeding per-frame
    * signals a curation pipeline thresholds (brightness, scene
    * change, sampling). */
  def videoFramesAll(spark: SparkSession,
      media: DataFrame): Dataset[VideoFrame] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val v = VideoCodec.decodeY4m(r.content)
        v.frames.iterator.zipWithIndex.map { case (f, idx) =>
          VideoFrame(r.doc_id, v.width, v.height, v.fpsNum,
            v.frames.length.toLong, idx.toLong,
            VideoCodec.lumaSum(v.width, v.height, f),
            VideoCodec.chromaSum(v.width, v.height, f))
        }
      }
    }
  }

  /** One clip's fingerprint: energy-delta bits as zero-padded hex,
    * the frame count, and the exact-match group size. */
  case class AudioFingerprint(doc_id: Long, fp: String, n_frames: Long,
      n_rising: Long)

  /** Energy-delta audio fingerprint — the classic public audio-dedup
    * primitive (the sign of successive frame-energy deltas survives
    * volume scaling and mild noise): decode → 64-sample frame
    * energies → bit j set iff e(j+1) > e(j) (strict, integer) →
    * packed hex. One partition-wise pass; only (id, hex, counts)
    * travel. Composes with exact-match grouping exactly like
    * [[ahashTarAll]] + pipeline_media_dedup. */
  def audioFingerprintAll(spark: SparkSession, media: DataFrame,
      frameLen: Int = 64): Dataset[AudioFingerprint] = {
    import spark.implicits._
    require(frameLen > 0, "frameLen must be positive")
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val a = AudioCodec.decodeWav(r.content)
        val energies = a.samples.grouped(frameLen)
          .map(AudioCodec.squareSum).toArray
        var fp = 0L
        var j = 0
        // the fingerprint holds 64 delta bits; JVM Long shifts wrap
        // mod 64, so an uncapped loop would fold frame 64's bit onto
        // frame 0's (and diverge from the oracle's shift semantics)
        while (j + 1 < energies.length && j < 64) {
          if (energies(j + 1) > energies(j)) fp |= 1L << j
          j += 1
        }
        AudioFingerprint(r.doc_id, f"$fp%016x",
          energies.length.toLong, java.lang.Long.bitCount(fp).toLong)
      }
    }
  }

  /** One frame's perceptual hash over the LUMA plane. */
  case class VideoFrameHash(doc_id: Long, frame_idx: Long,
      vhash: String, n_bright: Long)

  /** Per-frame 8×8 average-hash over decoded video LUMA planes — the
    * frame-level signature a video-dedup / scene-clustering pipeline
    * blocks on (two clips sharing most frame hashes are near-dups;
    * consecutive equal hashes mark static segments). Same
    * integer-exact discipline as [[ImageCodec.averageHash]]: grid
    * sample x·w div 8 / y·h div 8, strict gray·64 > Σ comparison,
    * two zero-padded 32-bit hex halves. Decode + hash share the row;
    * frame buffers never leave the task. */
  def videoFrameHashAll(spark: SparkSession,
      media: DataFrame): Dataset[VideoFrameHash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val v = VideoCodec.decodeY4m(r.content)
        v.frames.iterator.zipWithIndex.map { case (f, idx) =>
          // 8x8 luma grid -> the SHARED aHash packing
          // (ImageCodec.packGridHash), so image and video hashes can
          // never drift apart
          val grays = new Array[Long](64)
          var y = 0
          while (y < 8) {
            val iy = (y.toLong * v.height / 8).toInt
            var x = 0
            while (x < 8) {
              val ix = (x.toLong * v.width / 8).toInt
              grays(y * 8 + x) = f(iy * v.width + ix) & 0xff
              x += 1
            }
            y += 1
          }
          val hex = ImageCodec.packGridHash(grays)
          VideoFrameHash(r.doc_id, idx.toLong, hex,
            java.lang.Long.bitCount(
              java.lang.Long.parseUnsignedLong(hex, 16)).toLong)
        }
      }
    }
  }

  /** Deterministic frame-offset sampling for a "video" payload: every
    * `stride`-th byte offset, capped at `maxFrames` — pure column math,
    * no decode needed for planning-level operations. A zero-byte
    * payload has no frames (empty array, not a phantom frame at 0). */
  def frameOffsets(content: org.apache.spark.sql.Column, stride: Int,
      maxFrames: Int): org.apache.spark.sql.Column =
    when(length(content) === 0,
      array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)))
      .otherwise(slice(sequence(lit(0), length(content) - 1,
        lit(stride)), 1, maxFrames))

  /** True perceptual-hash row over REAL decoded pixels ([[ImageCodec
    * .averageHash]]): `ahash` = 16-hex-char 8×8 average-hash,
    * `n_bright` = its set-bit count (the above-mean grid cells). */
  case class MediaAhash(doc_id: Long, ahash: String, n_bright: Long)

  /** Batch average-hash: decode + 8×8 grid sample + integer
    * mean-threshold per payload, one partition-wise pass (the decoded
    * pixel buffer never leaves the task — only 16 hex chars travel).
    * This is the REAL-pixel upgrade of [[phashBytes]] (which hashes
    * raw payload bytes and stays the payload-AGNOSTIC tool for
    * arbitrary media): identical images collide exactly, and small
    * pixel edits flip few grid cells, so [[graft.ops.DedupOps
    * .hammingNearDupSummary]] composes on the hex-decoded bits. */
  def averageHashAll(spark: SparkSession,
      media: DataFrame): Dataset[MediaAhash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val h = ImageCodec.averageHash(ImageCodec.decode(r.content))
        val bits = java.lang.Long.bitCount(
          java.lang.Long.parseUnsignedLong(h, 16))
        MediaAhash(r.doc_id, h, bits.toLong)
      }
    }
  }

  /** Near-dup summary over REAL decoded pixels: one decode+aHash pass
    * ([[averageHashAll]]'s kernel), then the shared 4×16-bit banded
    * blocking + exact-Hamming verification
    * ([[graft.ops.DedupOps.hammingNearDupSummary]] — the one band
    * discipline the simhash/phash paths already use; any pair within
    * Hamming 3 shares ≥1 band by pigeonhole). Output is one row per
    * image: (id, ahash hex, n_near partners). The 16-byte (id, hash)
    * table is checkpointed once and reused across banding, both
    * verification joins, and the final summary join — payload bytes
    * never reach an Exchange. */
  def ahashDupSummary(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    import spark.implicits._
    val withH = media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val hx = ImageCodec.averageHash(ImageCodec.decode(r.content))
        (r.doc_id, hx, java.lang.Long.parseUnsignedLong(hx, 16))
      }
    }.toDF("doc_id", "ahash", "h64").localCheckpoint(true)
    DedupOps.hammingNearDupSummary(
        withH.select(col("doc_id"), col("h64")),
        "doc_id", "h64", maxHamming, maxBucket,
        // aHash is content-derived over DECODED pixels: re-encoded
        // identical pictures collapse to one hash value, so the
        // banding runs over distinct hashes weighted by multiplicity
        collapseDuplicates = true)
      .join(withH.select(col("doc_id"), col("ahash")), Seq("doc_id"))
      .select(col("doc_id"), col("ahash"), col("n_near"))
  }

  /** Resized metadata: the aspect-preserving fit of decoded dimensions
    * into a `maxSide` bounding box, plus the resized pixel witness
    * (`px_sum` = unsigned byte sum of the RESAMPLED RGB plane). */
  case class ResizedMeta(doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int, px_sum: Long)

  /** REAL thumbnail pass: decode ([[ImageCodec.decode]]) + aspect-
    * preserving nearest-neighbor resample
    * ([[ImageCodec.resizeNearest]]) of the actual pixels, in one
    * partition-wise batch (decode and resize share the row, so the
    * full-size pixel buffer never leaves the task). Deterministic and
    * oracle-checked down to the resampled bytes: out dims =
    * max(1, round(dim · maxSide/longest)) never upscaled, sampling
    * grid by integer division, `px_sum` over the output plane. */
  def resizeAll(spark: SparkSession, media: DataFrame,
      maxSide: Int): Dataset[ResizedMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val img = ImageCodec.decode(r.content)
        val out = ImageCodec.resizeNearest(img, maxSide)
        ResizedMeta(r.doc_id, img.width, img.height,
          out.width, out.height, ImageCodec.pixelSum(out.rgb))
      }
    }
  }

  /** STUB feature extractor — stands in for an image/audio embedding
    * model: a deterministic `dim`-float signature derived from payload
    * bytes (FNV-hash per lane, normalized to unit length so downstream
    * cosine ANN composes). Real deployments swap the body for an ONNX/
    * JNI model call; the per-partition batch shape (amortized model
    * load), the output schema (array<float>), and the unit-norm
    * contract survive unchanged. */
  case class MediaFeatures(doc_id: Long, feature: Array[Float])

  /** Perceptual 64-bit hash row. */
  case class MediaHash(doc_id: Long, phash: Long)

  /** STUB perceptual hash (average-hash shape): stands in for
    * decode → grayscale → 8×8 downsample → mean-threshold. Samples 64
    * deterministic "pixels" from the payload (the unsigned byte at
    * offset floor(i·len/64)), thresholds at their mean, packs 64 bits.
    * Identical payloads collide exactly, and a small payload edit
    * flips few sampled pixels, so near-identical images land within a
    * small Hamming distance — the property the banded blocking in
    * [[phashDupSummary]] exploits. A real deployment swaps the pixel
    * source for a codec call inside the same partition-wise batch;
    * the packing, banding, and verification are unchanged. */
  def perceptualHashAll(spark: SparkSession,
      media: DataFrame): Dataset[MediaHash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map(r => MediaHash(r.doc_id, phashBytes(r.content)))
    }
  }

  /** The stub average-hash kernel on one payload, applied row by row
    * in [[perceptualHashAll]]. */
  def phashBytes(content: Array[Byte]): Long = {
    val len = content.length
    val px = new Array[Int](64)
    var i = 0
    while (i < 64) {
      // long arithmetic: i * len overflows Int past ~34 MB payloads
      px(i) =
        if (len == 0) 0
        else content((i.toLong * len / 64).toInt) & 0xff
      i += 1
    }
    val mean = px.sum.toDouble / 64.0
    var h = 0L
    i = 0
    while (i < 64) {
      if (px(i) > mean) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Per-image near-dup summary over perceptual hashes: 4×16-bit
    * banded blocking (any pair within Hamming 3 shares ≥1 band —
    * pigeonhole) + exact Hamming verify — the image analogue of
    * [[DedupOps.simhashSummary]], over binary payloads, with the same
    * band discipline. (8-bit bands were tried first and rejected:
    * only 256 bucket values per band makes bucket size ~N/200 and
    * candidate volume quadratic — 3.7M pairs from 5k images at
    * sf0.1; 16-bit bands cut it 55× to 67k.) Stable
    * one-row-per-image shape; hot buckets capped at `maxBucket`. */
  def phashDupSummary(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // (id, phash) is 16 bytes/image and referenced four times (banding,
    // two verification joins, final summary join) — materialize the one
    // full-corpus decode+hash pass instead of re-running it per
    // reference, then share DedupOps' banded-Hamming tail (one band
    // discipline, not two)
    val withH = perceptualHashAll(spark, media).toDF("doc_id", "phash")
      .localCheckpoint(true)
    DedupOps.hammingNearDupSummary(withH, "doc_id", "phash",
      maxHamming, maxBucket)
  }

  def featureExtractAll(spark: SparkSession, media: DataFrame,
      dim: Int = 16): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition model load would happen here, once
      rows.map { r =>
        val v = new Array[Float](dim)
        var lane = 0
        while (lane < dim) {
          v(lane) = (graft.functions.Hash64.hashBytes(r.content, lane + 1L)
            .toDouble / Long.MaxValue.toDouble).toFloat
          lane += 1
        }
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        val unit =
          if (norm == 0.0) v else v.map(x => (x / norm).toFloat)
        MediaFeatures(r.doc_id, unit)
      }
    }
  }
}
