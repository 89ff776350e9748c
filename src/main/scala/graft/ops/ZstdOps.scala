package graft.ops

import com.github.luben.zstd.{Zstd, ZstdDecompressCtx, ZstdException}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Zstandard-blob text ingestion — the format modern public corpora
  * actually ship in (Dolma / RedPajama distribute `.jsonl.zst`; RFC
  * 8878 is the public frame spec). Uses `zstd-jni`, the public
  * library Spark itself bundles for shuffle/parquet compression — no
  * new dependency.
  *
  * Mirrors the [[CompressedOps]] gzip contract exactly:
  *
  *   - MULTI-FRAME streams are part of the contract (block-parallel
  *     zstd compressors emit concatenated frames, like pzstd): the
  *     walk advances frame by frame via the library's own frame-size
  *     parser, and the generator makes every even-id doc a two-frame
  *     stream so the oracle catches a first-frame-stops decoder by
  *     construction;
  *   - frames must DECLARE their content size (the single-pass
  *     compressors all write it) and carry the xxhash64 checksum,
  *     which decompression verifies — corruption fails loud at the
  *     decompression boundary;
  *   - a declared size past the `cap` is an error, not an allocation
  *     (hostile-frame defense);
  *   - ONE native compression/decompression context per TASK
  *     (zstd contexts are native allocations like zlib's ~270 KB
  *     state), owned and released by [[Multimodal.Codecs]].
  *
  * The witnesses (decompressed byte length + MD5) are replayed by the
  * oracle from the ORIGINAL text, so a match certifies byte-exact
  * recovery through compression, frame concatenation, and
  * decompression.
  */
object ZstdOps {

  /** Build a table of zstd-compressed documents: the UTF-8 text bytes
    * of each doc as ONE frame for odd ids and TWO concatenated frames
    * (split at the byte midpoint) for even ids. Level 3 (the zstd
    * default), checksummed: the task's [[Multimodal.Codecs]] context. */
  def zstdTable(spark: SparkSession, docs: DataFrame): DataFrame =
    Multimodal.encodeDocs(StorageOps.fanOutForKernel(
        Multimodal.docText(docs))) { (c, id, text) =>
      val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ctx = c.zstdCompress
      if (id % 2 == 0 && raw.length >= 2) {
        val mid = raw.length / 2
        ctx.compress(java.util.Arrays.copyOfRange(raw, 0, mid)) ++
          ctx.compress(java.util.Arrays.copyOfRange(raw, mid, raw.length))
      } else ctx.compress(raw)
    }

  /** The multi-frame walk with a CALLER-owned context: per frame, the
    * library parses the compressed frame size (corrupt headers fail
    * here), the DECLARED content size gates allocation against `cap`,
    * and decompression verifies the frame checksum. */
  def unzstdWith(bytes: Array[Byte], ctx: ZstdDecompressCtx,
      cap: Int = 1 << 26): Array[Byte] = {
    require(bytes.length >= 4, "zstd: truncated stream")
    // size hint in LONG arithmetic: bytes.length * 4 overflows Int
    // (negative) past 512 MiB of input, and a negative hint makes the
    // stream constructor throw an opaque error instead of decoding
    val out = new java.io.ByteArrayOutputStream(
      math.max(64L, math.min(cap.toLong, bytes.length.toLong * 4)).toInt)
    var pos = 0
    while (pos < bytes.length) {
      val csize =
        try Zstd.findFrameCompressedSize(bytes, pos)
        catch { case e: ZstdException =>
          // split the library's diagnosis into the codec family's
          // shared vocabulary: an unknown frame descriptor is a magic
          // failure, anything else at the header stage is truncation
          // or malformed framing
          val m = Option(e.getMessage).getOrElse("")
          val reason =
            if (m.toLowerCase.contains("unknown frame descriptor"))
              "bad magic"
            else "truncated or malformed frame"
          throw new IllegalArgumentException(
            s"zstd: $reason at byte $pos ($m)")
        }
      require(csize > 0 && pos + csize <= bytes.length,
        s"zstd: truncated frame at byte $pos")
      val dsize = Zstd.getFrameContentSize(bytes, pos)
      require(dsize >= 0,
        s"zstd: frame at byte $pos does not declare its content size")
      require(out.size() + dsize <= cap,
        s"zstd: declared size exceeds the $cap-byte cap")
      val dst = new Array[Byte](dsize.toInt)
      val n =
        try ctx.decompressByteArray(dst, 0, dst.length, bytes, pos,
          csize.toInt)
        catch { case e: ZstdException =>
          throw new IllegalArgumentException(
            s"zstd: corrupt frame at byte $pos: ${e.getMessage}")
        }
      require(n == dsize,
        s"zstd: frame content size mismatch (got $n, want $dsize)")
      out.write(dst, 0, n)
      pos += csize.toInt
    }
    out.toByteArray
  }

  /** Batch decompress + witness (the [[CompressedOps.gunzipAll]]
    * shape): one kernel pass, decompressed buffers never leave the
    * task. */
  def unzstdAll(spark: SparkSession,
      media: DataFrame): Dataset[CompressedOps.GunzipMeta] =
    Multimodal.mapMedia(media) { (c, r) =>
      val raw = unzstdWith(r.content, c.zstdDecompress)
      CompressedOps.GunzipMeta(r.doc_id, raw.length.toLong, c.md5Hex(raw))
    }
}
