package graft.ops

import graft.{SparkSpec, Tables}

/** Gates for the corrupt-payload quarantine lane: planted corruption
  * lands in the right stable class, clean rows are BYTE-IDENTICAL to
  * the all-clean fail-loud path, the accounting reconciles, and every
  * codec's errors land in their own class under [[QuarantineOps.attempt]]. */
class QuarantineSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, Sf0001)

  test("planted corruption classes are diagnosed by the decoder, " +
      "per planting rule") {
    val rows = QuarantineOps.tryDecodeImageAll(spark,
      QuarantineOps.corruptImageTable(spark, docs)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (r.doc_id % 8) match {
        case 0 => assert(r.status == "quarantined" &&
          r.error_class.contains("bad_magic"), s"doc ${r.doc_id}")
        case 1 => assert(r.status == "quarantined" &&
          r.error_class.contains("hostile_header"), s"doc ${r.doc_id}")
        case 2 | 4 => assert(r.status == "quarantined" &&
          r.error_class.contains("truncated"), s"doc ${r.doc_id}")
        case 3 => assert(r.status == "quarantined" &&
          r.error_class.contains("integrity"), s"doc ${r.doc_id}")
        case _ => assert(r.status == "ok" && r.error_class.isEmpty &&
          r.px_sum.nonEmpty, s"doc ${r.doc_id}")
      }
    }
  }

  test("good rows are byte-identical to the all-clean fail-loud run " +
      "— the lane adds routing, never changes a decode") {
    val lane = QuarantineOps.tryDecodeImageAll(spark,
      QuarantineOps.corruptImageTable(spark, docs)).collect()
      .filter(_.status == "ok")
      .map(r => r.doc_id ->
        ((r.width.get, r.height.get, r.format.get, r.px_sum.get)))
      .toMap
    val clean = Multimodal.decodeAll(spark,
      Multimodal.mixedImageTable(spark, docs)).collect()
      .filter(_.doc_id % 8 >= 5)
      .map(m => m.doc_id -> ((m.width, m.height, m.format, m.px_sum)))
      .toMap
    assert(lane.keySet == clean.keySet, "clean-row id sets differ")
    clean.foreach { case (id, w) =>
      assert(lane(id) == w, s"doc $id witness drift")
    }
  }

  test("accounting reconciles: ok + quarantined-by-class == seen") {
    val rows = QuarantineOps.tryDecodeImageAll(spark,
      QuarantineOps.corruptImageTable(spark, docs)).collect()
    val total = docs.count()
    val byClass = rows.groupBy(r =>
      (r.status, r.error_class.getOrElse("none")))
      .view.mapValues(_.length.toLong).toMap
    assert(byClass.values.sum == total)
    assert(byClass.keySet.filter(_._1 == "quarantined").map(_._2) ==
      Set("bad_magic", "hostile_header", "truncated", "integrity"))
  }

  test("gunzip under attempt: intact streams recover byte-exact, a " +
      "flipped trailer bit quarantines as integrity") {
    val good = CompressedOps.gzipTable(spark, docs.limit(4))
      .collect().map(_.getAs[Array[Byte]]("content"))
    assert(good.nonEmpty &&
      good.forall(g => QuarantineOps.attempt(CompressedOps.gunzip(g)).isRight))
    // flip a byte in the member's stored CRC-32 trailer: the body
    // still inflates, only trailer verification catches it
    val raw = ("xyz" * 50).getBytes("UTF-8")
    val member = {
      val out = new java.io.ByteArrayOutputStream()
      val defl = new java.util.zip.Deflater(
        java.util.zip.Deflater.BEST_SPEED, true)
      try CompressedOps.gzipMember(raw, defl, new java.util.zip.CRC32(), out)
      finally defl.end()
      out.toByteArray
    }
    assert(QuarantineOps.attempt(CompressedOps.gunzip(member))
      .exists(java.util.Arrays.equals(_, raw)))
    val flippedCrc = member.clone()
    flippedCrc(member.length - 7) =
      (flippedCrc(member.length - 7) ^ 0x10).toByte
    assert(QuarantineOps.attempt(CompressedOps.gunzip(flippedCrc)) ==
      Left("integrity"))
  }

  test("tar / audio / video decodes under attempt quarantine " +
      "truncation and junk magic with their own classes") {
    def cls[A](a: => A): Either[String, A] = QuarantineOps.attempt(a)
    // tar: a truncated shard and a checksum flip
    val shard = TarCodec.encode(Seq("a.txt" -> "hello".getBytes("UTF-8")))
    val flipped = shard.clone(); flipped(0) = (flipped(0) ^ 1).toByte
    assert(cls(TarCodec.decode(shard)).exists(_.length == 1))
    assert(cls(TarCodec.decode(shard.take(600))) == Left("truncated"))
    assert(cls(TarCodec.decode(flipped)) == Left("integrity"))
    // audio: junk magic and a truncated data chunk
    val wav = AudioCodec.encodeWav(8000, 1, Array[Short](1, -2, 3, -4))
    assert(cls(AudioCodec.decodeWav(wav)).exists(_.samples.length == 4))
    assert(cls(AudioCodec.decodeWav(("JUNK" * 12).getBytes("US-ASCII")))
      == Left("bad_magic"))
    assert(cls(AudioCodec.decodeWav(wav.take(wav.length - 2))).isLeft)
    // video: a truncated final frame
    val sz = VideoCodec.frameSize(8, 8)
    val y4m = VideoCodec.encodeY4m(8, 8, 25, 1,
      Seq(new Array[Byte](sz), new Array[Byte](sz)))
    assert(cls(VideoCodec.decodeY4m(y4m)).exists(_.frames.length == 2))
    assert(cls(VideoCodec.decodeY4m(y4m.take(y4m.length - 10)))
      == Left("truncated"))
  }

  test("attempt() absorbs only data errors — fatal throwables still " +
      "fail the task") {
    assert(QuarantineOps.attempt(42) == Right(42))
    assert(QuarantineOps.attempt(
      throw new IllegalArgumentException("gzip: bad magic at byte 0"))
      == Left("bad_magic"))
    intercept[OutOfMemoryError] {
      QuarantineOps.attempt(throw new OutOfMemoryError("boom"))
    }
  }

  test("classify maps the codec family's message vocabulary onto " +
      "stable classes, most specific first") {
    def c(m: String) =
      QuarantineOps.classify(new IllegalArgumentException(m))
    assert(c("unsupported image magic: 0xdead") == "bad_magic")
    assert(c("PNG: bad signature") == "bad_magic")
    assert(c("WAV: not a RIFF/WAVE file") == "bad_magic")
    assert(c("PNG: CRC mismatch in IDAT chunk") == "integrity")
    assert(c("tar: header checksum mismatch at byte 0") == "integrity")
    assert(c("gzip: member ISIZE mismatch at byte 9") == "integrity")
    assert(c("PNG: inflated stream size mismatch") == "integrity")
    assert(c("PPM: truncated pixel plane (1 < 2)") == "truncated")
    assert(c("gzip: unterminated FNAME") == "truncated")
    assert(c("PPM: unreasonable dimensions 9 x 9") == "hostile_header")
    assert(c("PPM: header integer overflows at byte 3")
      == "hostile_header")
    assert(c("gzip: decompressed size exceeds the 4096-byte cap")
      == "hostile_header")
    assert(c("something else entirely") == "decode_error")
  }
}
