package graft.ops

import java.util.zip.{Deflater, Inflater}

import com.github.luben.zstd.{ZstdCompressCtx, ZstdDecompressCtx}
import org.apache.spark.sql.functions._

import graft.{MainSources, SparkEntry, SparkSpec, Tables}

/** The native objects the codec-kernel case's rows saw, as
  * (partition, object name, instance) — local mode runs every task in
  * this JVM, so the spec can inspect them after the job. */
object KernelProbe {
  val held = new java.util.concurrent.ConcurrentLinkedQueue[
    (Int, String, AnyRef)]()
}

class MultimodalSpec extends SparkSpec {

  test("decode is deterministic, schema-complete, and parses REAL " +
      "encoded payloads back to the generator's dimensions") {
    val docs = Tables.documents(spark, Sf0001)
    val media = Multimodal.imageTable(spark, docs)
    assert(media.schema("content").dataType.typeName == "binary")
    val d1 = Multimodal.decodeAll(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    val d2 = Multimodal.decodeAll(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    assert(d1 == d2)
    d1.values.foreach { m =>
      assert(m.width >= 16 && m.width < 80)
      assert(m.height >= 16 && m.height < 80)
      assert(Set("ppm", "bmp").contains(m.format))
      assert(m.n_bytes > m.width.toLong * m.height * 3,
        "container framing must add header bytes over the raw plane")
      assert(m.px_sum > 0)
    }
    // the decoded dims come from PARSED HEADERS; cross-check against
    // an independent recompute of the generator arithmetic
    val expected = docs.collect().map { r =>
      val text = r.getAs[String]("text")
      val cp0 = if (text.nonEmpty) text.codePointAt(0) else 0
      val cp1 = if (text.length > Character.charCount(cp0))
        text.codePointAt(Character.charCount(cp0)) else 0
      r.getAs[Long]("doc_id") ->
        (cp0 % 64 + 16, cp1 % 64 + 16,
          if (cp0 % 2 == 0) "ppm" else "bmp")
    }.toMap
    d1.foreach { case (id, m) =>
      assert((m.width, m.height, m.format) == expected(id),
        s"decode mismatch for doc $id")
    }
  }

  test("frame offsets: stride sampling capped at maxFrames") {
    val media = Multimodal.mediaTable(Tables.documents(spark, Sf0001))
    val offs = media.select(
      Multimodal.frameOffsets(col("content"), stride = 10, maxFrames = 5)
        .as("f"), length(col("content")).as("len"))
      .collect()
    offs.foreach { r =>
      val frames = r.getSeq[Int](0)
      assert(frames.length <= 5 && frames.nonEmpty)
      assert(frames.head == 0)
      frames.zip(frames.tail).foreach { case (a, b) => assert(b - a == 10) }
    }
  }

  test("resize: aspect-preserving fit inside the box, never upscaled, " +
      "over real decoded pixels") {
    val media = Multimodal.imageTable(spark, Tables.documents(spark, Sf0001))
    val rows = Multimodal.resizeAll(spark, media, maxSide = 48).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.out_width <= 48 && r.out_height <= 48)
      assert(r.out_width <= r.width && r.out_height <= r.height)
      if (math.max(r.width, r.height) <= 48) {
        assert(r.out_width == r.width && r.out_height == r.height)
      } else {
        // aspect ratio preserved within rounding
        val in = r.width.toDouble / r.height
        val out = r.out_width.toDouble / r.out_height
        assert(math.abs(in - out) / in < 0.1, s"$r aspect drift")
      }
      // the resampled plane is real pixel bytes: its sum is bounded by
      // the plane size and positive (generator bytes are not all 0)
      assert(r.px_sum > 0 &&
        r.px_sum <= 255L * r.out_width * r.out_height * 3)
    }
  }

  test("perceptual hash: deterministic; planted byte-identical payloads collide") {
    import spark.implicits._
    val base = Multimodal.mediaTable(Tables.documents(spark, Sf0001)
      .limit(100))
    // plant an exact duplicate of doc 0's payload under a fresh id
    val dup = base.filter(col("doc_id") === 0)
      .select(lit(100000L).as("doc_id"), col("content"))
    val media = base.union(dup)
    val hashes = Multimodal.perceptualHashAll(spark, media)
      .collect().map(h => h.doc_id -> h.phash).toMap
    assert(hashes(100000L) == hashes(0L),
      "identical payloads must hash identically")
    val again = Multimodal.perceptualHashAll(spark, media)
      .collect().map(h => h.doc_id -> h.phash).toMap
    assert(again == hashes, "phash must be deterministic")

    val sum = Multimodal.phashDupSummary(spark, media)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sum.size == 101, "one row per image, always")
    assert(sum(0L) >= 1 && sum(100000L) >= 1,
      s"planted duplicate not detected: ${sum(0L)}, ${sum(100000L)}")
  }

  test("ahash near-dup summary over real pixels: planted duplicate " +
      "flags, distant image does not") {
    import spark.implicits._
    // base: half-dark/half-bright; dup: one pixel nudged (tiny hamming);
    // far: inverted split (distant hash)
    def img(lhs: Int, rhs: Int, nudge: Boolean) = {
      val rgb = Array.tabulate(16 * 16 * 3) { i =>
        val x = (i / 3) % 16
        (if (x < 8) lhs else rhs).toByte
      }
      if (nudge) rgb(0) = (lhs + 3).toByte
      ImageCodec.encodePpm(16, 16, rgb)
    }
    val media = Seq(
      (1L, img(0, 200, nudge = false)),
      (2L, img(0, 200, nudge = true)),   // near-dup of 1
      (3L, img(200, 0, nudge = false)))  // mirrored: far from both
      .toDF("doc_id", "content")
    val sum = Multimodal.ahashDupSummary(spark, media)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(sum(1L)._2 == 1 && sum(2L)._2 == 1,
      s"planted near-dup pair must flag exactly each other: $sum")
    assert(sum(3L)._2 == 0, s"mirrored image must not flag: $sum")
    assert(sum(1L)._1 == "f0f0f0f0f0f0f0f0")
  }

  test("mixed-format corpus: the magic sniffer routes every row to " +
      "the right parser — px_sum is container-invariant") {
    val docs = Tables.documents(spark, Sf0001)
    val mixed = Multimodal.decodeAll(spark,
      Multimodal.mixedImageTable(spark, docs)).collect()
      .map(m => m.doc_id -> m).toMap
    val homog = Multimodal.decodeAll(spark,
      Multimodal.imageTable(spark, docs)).collect()
      .map(m => m.doc_id -> m).toMap
    assert(mixed.keySet == homog.keySet)
    mixed.foreach { case (id, m) =>
      // pixels are the generator's regardless of container: the
      // decoded plane must be identical across formats
      assert(m.px_sum == homog(id).px_sum, s"doc $id")
      assert((m.width, m.height) == (homog(id).width, homog(id).height))
    }
    assert(mixed.values.map(_.format).toSet == Set("ppm", "bmp", "png"),
      "all three formats must appear in the corpus")
  }

  test("audio: decoded metadata comes from PARSED containers and the " +
      "features match an independent JVM recompute; 8 kHz resample " +
      "is the identity on 8 kHz clips") {
    val docs = Tables.documents(spark, Sf0001)
    val media = Multimodal.audioTable(spark, docs)
    val metas = Multimodal.decodeAudioAll(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    val expected = docs.collect().map { r =>
      val text = r.getAs[String]("text")
      val cp0 = if (text.nonEmpty) text.codePointAt(0) else 0
      val cp1 = if (text.length > Character.charCount(cp0))
        text.codePointAt(Character.charCount(cp0)) else 0
      val n = (cp0 % 768 + 256) * 2
      val s0 = (cp0 * 7 + cp1 * 13) % 256
      val samples = Array.tabulate(n)(i =>
        (((s0 + 37L * i * i + 11L * i) % 4001) - 2000).toShort)
      r.getAs[Long]("doc_id") ->
        ((8000 + (cp1 % 4) * 4000, cp1 % 2 + 1, n.toLong,
          AudioCodec.squareSum(samples),
          AudioCodec.zeroCrossings(samples)))
    }.toMap
    metas.foreach { case (id, m) =>
      val (rate, ch, n, sq, zc) = expected(id)
      assert((m.sample_rate, m.channels, m.n_samples) == ((rate, ch, n)),
        s"doc $id header parse")
      assert(m.sq_sum == sq && m.n_zc == zc, s"doc $id features")
    }
    val res = Multimodal.resampleAudioAll(spark, media, 8000).collect()
    res.foreach { r =>
      val m = metas(r.doc_id)
      assert(r.n_in == m.n_samples / m.channels)
      if (m.sample_rate == 8000) {
        assert(r.n_out == r.n_in, s"identity resample, doc ${r.doc_id}")
        if (m.channels == 1)
          assert(r.r_sq_sum == m.sq_sum,
            s"mono identity energy, doc ${r.doc_id}")
      } else assert(r.n_out < r.n_in, s"downsample, doc ${r.doc_id}")
    }
  }

  test("video: frame rows come from PARSED Y4M streams — dims, fps, " +
      "frame counts match the generator, plane sums cover every byte") {
    val docs = Tables.documents(spark, Sf0001)
    val frames = Multimodal.videoFramesAll(spark,
      Multimodal.videoTable(spark, docs)).collect()
    val byDoc = frames.groupBy(_.doc_id)
    val expected = docs.collect().map { r =>
      val text = r.getAs[String]("text")
      val cp0 = if (text.nonEmpty) text.codePointAt(0) else 0
      val cp1 = if (text.length > Character.charCount(cp0))
        text.codePointAt(Character.charCount(cp0)) else 0
      r.getAs[Long]("doc_id") ->
        (((cp0 % 12) * 2 + 8, (cp1 % 12) * 2 + 8,
          (cp0 + cp1) % 5 + 2, if (cp0 % 2 == 0) 25 else 30,
          (cp0 * 7 + cp1 * 13) % 256))
    }.toMap
    assert(byDoc.keySet == expected.keySet)
    byDoc.foreach { case (id, fs) =>
      val (w, h, nf, fps, s0) = expected(id)
      assert(fs.length == nf && fs.forall(_.n_frames == nf), s"doc $id")
      assert(fs.forall(f => f.width == w && f.height == h &&
        f.fps_num == fps), s"doc $id header parse")
      assert(fs.map(_.frame_idx).sorted.toSeq == (0L until nf).toSeq)
      // y_sum + c_sum must cover the whole planar buffer: recompute
      // frame 0's total from the generator
      val sz = VideoCodec.frameSize(w, h)
      val total0 = (0 until sz).map(i => (s0 + 31L * i) % 256).sum
      val f0 = fs.find(_.frame_idx == 0L).get
      assert(f0.y_sum + f0.c_sum == total0, s"doc $id plane coverage")
    }
  }

  test("tar shards: members decode through the archive AND the inner " +
      "codec; media dedup elects exactly one representative per " +
      "exact-hash group") {
    val docs = Tables.documents(spark, Sf0001)
    val metas = Multimodal.decodeTarAll(spark,
      Multimodal.tarShardTable(spark, docs)).collect()
    assert(metas.length == docs.count())
    metas.foreach { m =>
      assert(m.n_members == 2L, s"doc ${m.doc_id}")
      assert(m.tar_bytes % 512 == 0, "archives are whole blocks")
      assert(m.img_px > 0)
    }
    val dedup = graft.SparkEntry
      .queries("pipeline_media_dedup")(spark, Sf0001).collect()
    val byHash = dedup.groupBy(_.getAs[String]("ahash"))
    byHash.foreach { case (h, rows) =>
      val reps = rows.filter(_.getAs[Boolean]("is_rep"))
      assert(reps.length == 1, s"group $h must have ONE representative")
      assert(reps.head.getAs[Long]("doc_id") ==
        rows.map(_.getAs[Long]("doc_id")).min,
        s"group $h representative must be the min doc_id")
      assert(rows.forall(_.getAs[Long]("group_size") == rows.length),
        s"group $h size column must equal the group cardinality")
    }
    // exact duplicates exist by construction (images depend only on
    // the first two codepoints), so dedup must be non-trivial
    assert(byHash.exists(_._2.length > 1),
      "the corpus must contain at least one exact-dup image group")
  }

  test("audio fingerprint is volume-robust: uniformly scaled clips " +
      "collide; a reordered clip does not") {
    import spark.implicits._
    val base = Array.tabulate(512)(i =>
      (math.sin(i / 7.0) * 1000).toShort)
    val loud = base.map(s => (s * 2).toShort) // no clipping at ±2000
    val shuffled = base.reverse
    val media = Seq(
      (1L, AudioCodec.encodeWav(8000, 1, base)),
      (2L, AudioCodec.encodeWav(8000, 1, loud)),
      (3L, AudioCodec.encodeWav(8000, 1, shuffled)))
      .toDF("doc_id", "content")
    val fps = Multimodal.audioFingerprintAll(spark, media, frameLen = 64)
      .collect().map(f => f.doc_id -> f.fp).toMap
    assert(fps(1L) == fps(2L),
      "uniform gain must not change the energy-delta signs")
    assert(fps(1L) != fps(3L),
      "a structurally different clip must not collide")
  }

  test("feature extraction: unit-norm, deterministic, feeds cosine ANN") {
    val media = Multimodal.mediaTable(Tables.documents(spark, Sf0001)
      .limit(100))
    val f1 = Multimodal.featureExtractAll(spark, media, dim = 16)
    val rows = f1.collect()
    assert(rows.length == 100)
    rows.foreach { m =>
      assert(m.feature.length == 16)
      val norm = math.sqrt(m.feature.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5, s"doc ${m.doc_id} norm $norm")
    }
    val again = Multimodal.featureExtractAll(spark, media, dim = 16)
      .collect().map(m => m.doc_id -> m.feature.toSeq).toMap
    rows.foreach(m => assert(again(m.doc_id) == m.feature.toSeq))
    // composes with the ANN operators (same array<float> contract)
    val df = f1.toDF().select(col("doc_id").as("vec_id"),
      col("feature").as("embedding"))
    val top = AnnOps.bruteForceTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", 5)
    assert(top.count() == 10)
  }

  test("multimodal_framesample: stride arithmetic replayed per doc") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, text) =>
      val nBytes = text.getBytes("UTF-8").length
      (0 until nBytes by 64).take(8).zipWithIndex.map {
        case (off, idx) => (id, nBytes.toLong, idx.toLong, off.toLong)
      }
    }.toSet
    val got = SparkEntry.queries("multimodal_framesample")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("codec kernel: each task creates each native object at most " +
      "once, never shares it, and ends every one when it completes") {
    KernelProbe.held.clear()
    val media = spark.range(0, 40, 1, 4).select(col("id").as("doc_id"),
      concat(lit("kernel row "), col("id").cast("string"))
        .cast("binary").as("content"))
    val got = Multimodal.mapMedia(media) { (c, r) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      Seq("rawDeflater" -> c.rawDeflater, "zlibDeflater" -> c.zlibDeflater,
        "rawInflater" -> c.rawInflater, "zlibInflater" -> c.zlibInflater,
        "zstdCompress" -> c.zstdCompress,
        "zstdDecompress" -> c.zstdDecompress).foreach { case (n, o) =>
        KernelProbe.held.add((pid, n, o))
      }
      val gz = new java.io.ByteArrayOutputStream()
      CompressedOps.gzipMember(r.content, c.rawDeflater, c.crc, gz)
      val rgb = r.content.take(3)
      val png = PngCodec.encodeWith(1, 1, rgb, c.zlibDeflater)
      (r.doc_id, pid,
        CompressedOps.gunzipWith(gz.toByteArray, c.rawInflater)
          .sameElements(r.content),
        PngCodec.decodeWith(png, c.zlibInflater).rgb.sameElements(rgb),
        ZstdOps.unzstdWith(c.zstdCompress.compress(r.content),
          c.zstdDecompress).sameElements(r.content),
        c.md5Hex(r.content))
    }.collect()
    assert(got.length == 40)
    assert(got.map(_._2).toSet == Set(0, 1, 2, 3))
    got.foreach { case (id, _, gz, png, zstd, md5) =>
      assert(gz && png && zstd, s"row $id: codec round trip failed")
      val want = java.security.MessageDigest.getInstance("MD5")
        .digest(s"kernel row $id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(md5 == want, s"row $id")
    }
    val held = KernelProbe.held.toArray(Array.empty[(Int, String, AnyRef)])
    assert(held.length == 40 * 6)
    // at most one instance per (task, object) …
    held.groupBy(h => (h._1, h._2)).foreach { case (k, hs) =>
      assert(hs.forall(_._3 eq hs.head._3), s"$k created more than once")
    }
    // … and no instance seen by two tasks
    held.groupBy(_._2).foreach { case (n, hs) =>
      val perTask = hs.groupBy(_._1).values.map(_.head._3).toSeq
      assert(perTask.size == 4)
      perTask.combinations(2).foreach { case Seq(a, b) =>
        assert(!(a eq b), s"$n shared between tasks")
      }
    }
    // every instance was ended when its task completed: using it throws
    held.groupBy(h => (h._1, h._2)).values.map(_.head).foreach {
      case (pid, n, o) =>
        intercept[RuntimeException] {
          o match {
            case d: Deflater =>
              d.setInput(Array[Byte](1)); d.finish()
              d.deflate(new Array[Byte](64))
            case i: Inflater =>
              i.setInput(Array[Byte](1)); i.inflate(new Array[Byte](64))
            case z: ZstdCompressCtx => z.compress(Array[Byte](1))
            case z: ZstdDecompressCtx => z.decompress(Array[Byte](1), 1)
          }
        }
    }
  }

  test("each codec pass runs through the one kernel: no partition " +
      "pass, task-completion hook or native codec allocation outside it") {
    val pass = """\.mapPartitions\s*[{(]""".r
    val hook = """endOnTaskCompletion\(""".r
    val alloc = ("""new\s+(java\.util\.zip\.)?(Deflater|Inflater)\(|""" +
      """new\s+(com\.github\.luben\.zstd\.)?Zstd\w*Ctx\(""").r
    // the kernel itself, and the one-shot `try … finally end()` codec
    // entry points (a fresh object per call, ended before it returns)
    val allowed = Set("Multimodal.scala" -> "Codecs",
      "Multimodal.scala" -> "endOnTaskCompletion",
      "Multimodal.scala" -> "kernel",
      "PngCodec.scala" -> "encode", "PngCodec.scala" -> "decode",
      "CompressedOps.scala" -> "gunzip")
    val definition = """\b(?:def|class|object)\s+(\w+)""".r
    val hits = MainSources.files.flatMap { case (p, text) =>
      val lines = text.linesIterator.toIndexedSeq
      lines.indices.collect {
        case i if !lines(i).trim.startsWith("*") &&
            !lines(i).trim.startsWith("//") &&
            Seq(pass, hook, alloc).exists(_.findFirstIn(lines(i)).nonEmpty) =>
          val owner = (i to 0 by -1).iterator
            .flatMap(j => definition.findFirstMatchIn(lines(j)))
            .map(_.group(1)).nextOption().getOrElse("")
          (p.getFileName.toString -> owner, s"$p:${i + 1}: ${lines(i)}")
      }
    }
    val outside = hits.filterNot(h => allowed(h._1)).map(_._2)
    assert(outside.isEmpty,
      "run the pass through Multimodal.kernel and take the codec " +
        "from its Codecs handle:\n" + outside.mkString("\n"))
    // the rule is live: the kernel's own pass is found
    assert(hits.exists(_._1 == ("Multimodal.scala" -> "kernel")))
  }
}
