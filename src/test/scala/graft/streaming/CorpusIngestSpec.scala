package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ops.DedupOps

class CorpusIngestSpec extends SparkSpec {

  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType)))

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  private val corpusText = "the quick brown fox jumps over the lazy " +
    "dog near the river bank while the sun sets slowly behind the hill"
  private lazy val corpus = Seq(
    (100L, corpusText),
    (101L, "an unrelated corpus document about columnar execution " +
      "engines with vectorized operators and late materialization"))
    .toDF("doc_id", "text")
  private lazy val corpusBands =
    DedupOps.minhashBands(corpus, "doc_id", "text")
  private lazy val corpusShingles =
    DedupOps.shingleSets(corpus, "doc_id", "text")

  // batch 1: exact copy of corpus doc + fresh doc; batch 2: near-dup
  private val b1 = Seq(
    (1L, ts(0), corpusText),
    (2L, ts(1), "a completely fresh document with entirely new words " +
      "about distributed shuffles and adaptive query execution plans"))
  private val b2 = Seq(
    (3L, ts(5), corpusText.replace("slowly", "quickly")))

  test("streaming near-dup gate == batch gate, flags only true dups") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        b1.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))), docSchema)
      .write.parquet(dir + "/b1")
    spark.createDataFrame(spark.sparkContext.parallelize(
        b2.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))), docSchema)
      .write.parquet(dir + "/b2")

    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/b*")
    val q = CorpusIngest.neardupGateStream(stream, corpusBands,
        corpusShingles, "doc_id", "text", threshold = 0.7)
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("gate_out").orderBy(col("doc_id"), col("partner"))
        .collect()
    } finally q.stop()

    val batchDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      (b1 ++ b2).map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))),
      docSchema)
    val batch = CorpusIngest.neardupGateStream(batchDocs, corpusBands,
        corpusShingles, "doc_id", "text", threshold = 0.7)
      .orderBy(col("doc_id"), col("partner")).collect()

    assert(streamed.toSeq == batch.toSeq,
      s"streaming != batch:\n${streamed.mkString("\n")}\nvs\n" +
        batch.mkString("\n"))
    val byDoc = streamed.map(r => r.getLong(1) -> (r.getLong(2),
      r.getDouble(3))).toMap
    assert(byDoc.contains(1L) && byDoc(1L)._1 == 100L &&
      byDoc(1L)._2 == 1.0, s"exact copy must flag at 1.0: $byDoc")
    assert(byDoc.contains(3L) && byDoc(3L)._1 == 100L &&
      byDoc(3L)._2 >= 0.7, s"near-dup must flag >= 0.7: $byDoc")
    assert(!byDoc.contains(2L), s"fresh doc must pass silently: $byDoc")
    assert(streamed.length == 2)
  }

  test("gate plan is stateless except the pair-dedup (no stream agg)") {
    val dir = Files.createTempDirectory("graft-ingest2").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        b1.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))), docSchema)
      .write.parquet(dir + "/b1")
    val stream = spark.readStream.schema(docSchema).parquet(dir + "/b*")
    val q = CorpusIngest.neardupGateStream(stream, corpusBands,
        corpusShingles, "doc_id", "text", threshold = 0.7)
      .writeStream.format("memory").queryName("gate_plan")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = q.lastProgress.sources.length +:
        Seq.empty[Int] // one file source
      assert(plan.head == 1)
      // the ONLY stateful operator is the dropDuplicatesWithinWatermark
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1,
        s"exactly one stateful operator expected: ${ops.mkString(",")}")
      assert(ops.head.operatorName.toLowerCase.contains("dedupe"),
        s"the stateful operator must be the pair-dedup: " +
          ops.head.operatorName)
    } finally q.stop()
  }

  test("segment gate: streaming == batch, zero stateful operators") {
    val segLen = 8
    // fpp tiny so the novel-count assertions below are deterministic
    // on this hand corpus (a bloom false positive would misflag a
    // novel segment — that's the documented production trade, not a
    // test tolerance)
    val bloom = DedupOps.buildEvalBloom(
      DedupOps.corpusSegmentHashes(corpus, "text", segLen), fpp = 1e-9)
    val w = corpusText.split(" ")
    // 2 corpus-aligned segments + 8 novel tokens = 1 novel segment
    val hybrid = (w.take(2 * segLen) ++ Seq("entirely", "novel",
      "closing", "tokens", "appended", "for", "segment", "three"))
      .mkString(" ")
    val b = Seq(
      (1L, ts(0), corpusText), // every segment known
      (2L, ts(1), "a completely fresh document with entirely new " +
        "words about distributed shuffles and adaptive query plans"),
      (3L, ts(2), hybrid))
    val dir = Files.createTempDirectory("graft-seggate").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        b.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))),
        docSchema)
      .write.parquet(dir + "/b1")
    val stream = spark.readStream.schema(docSchema).parquet(dir + "/b*")
    val q = CorpusIngest.segmentGateStream(stream, bloom,
        "doc_id", "text", segLen = segLen)
      .writeStream.format("memory").queryName("seg_gate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty,
        s"segment gate must plan ZERO stateful operators: " +
          (if (ops == null) "" else ops.mkString(",")))
      spark.table("seg_gate").orderBy(col("doc_id")).collect()
    } finally q.stop()
    val batchDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      b.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))), docSchema)
    val batch = CorpusIngest.segmentGateStream(batchDocs, bloom,
      "doc_id", "text", segLen = segLen).orderBy(col("doc_id")).collect()
    assert(streamed.toSeq == batch.toSeq, "streaming != batch")
    val byDoc = streamed.map(r => r.getLong(0) ->
      (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val (n1, k1, m1) = byDoc(1L)
    assert(k1 == 0L && m1 == md5hex(""),
      s"known doc must reassemble empty: ${byDoc(1L)}")
    val (n2, k2, _) = byDoc(2L)
    assert(k2 == n2 && n2 > 0,
      s"fresh doc must keep every segment: ${byDoc(2L)}")
    val (n3, k3, m3) = byDoc(3L)
    assert(n3 == 3L && k3 == 1L,
      s"hybrid doc: 3 segments, 1 novel: ${byDoc(3L)}")
    assert(m3 == md5hex("entirely novel closing tokens appended for " +
      "segment three"), s"novel reassembly digest mismatch: $m3")
  }

  test("tokenizer drift monitor: streaming == batch, drift raises " +
    "UNK rate and fertility, one stateful operator") {
    // frozen models trained on the in-domain corpus word counts
    val wcounts = (corpusText + " " + corpusText).split(" ")
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toArray.sortBy { case (w, n) => (-n, w) }
    val wp = graft.ops.WordPieceOps.trainVocab(wcounts, numMerges = 16)
    val bpe = graft.ops.BpeOps.trainMerges(wcounts, numMerges = 16)

    // window 1 (10:00-10:10): in-domain; window 2 (10:20-10:30):
    // drifted — z/q/x appear in the corpus only in positions whose
    // alphabet CLASS the drifted words violate ('z' never
    // word-initial so bare 'z' is absent; 'q'/'x' never continue so
    // '##q'/'##x' are absent) -> every drifted word is WordPiece
    // [UNK], and no learned merge applies -> per-char BPE fertility
    // jump; sentinel next day closes both windows past the watermark
    val b1 = Seq(
      (1L, ts(0), corpusText),
      (2L, ts(4), "the quick fox jumps over the lazy dog"))
    val b2 = Seq(
      (3L, ts(21), "zzzz qqqq xxxx zzqq qqzz xxqq zzxx qqxx"),
      (4L, ts(24), "zzzzzzzz qqqqqqqq"))
    val sentinel = Seq(
      (9L, Timestamp.valueOf("2024-01-02 10:00:00"), "the end"))

    val dir = Files.createTempDirectory("graft-drift").toString
    def write(rows: Seq[(Long, Timestamp, String)], name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))),
          docSchema)
        .write.parquet(s"$dir/$name")
    write(b1, "b1"); write(b2, "b2"); write(sentinel, "b3")

    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/b*")
    val q = CorpusIngest.tokenizerDriftStream(stream, wp, bpe, "text")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1,
        s"exactly one stateful operator expected: ${ops.mkString(",")}")
      spark.table("drift_out").orderBy(col("win_start")).collect()
    } finally q.stop()

    // batch on the same rows computes every window; the sentinel's
    // own window never closes in the stream, so compare the rest
    val batchDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      (b1 ++ b2 ++ sentinel)
        .map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))),
      docSchema)
    val batch = CorpusIngest.tokenizerDriftStream(batchDocs, wp, bpe,
        "text")
      .filter(col("win_start") < lit(Timestamp.valueOf(
        "2024-01-02 00:00:00")))
      .orderBy(col("win_start")).collect()
    assert(streamed.toSeq == batch.toSeq,
      s"streaming != batch:\n${streamed.mkString("\n")}\nvs\n" +
        batch.mkString("\n"))

    assert(streamed.length == 2, streamed.mkString("\n"))
    val Array(inDomain, drifted) = streamed.map(r =>
      (r.getDouble(7), r.getDouble(8))) // (unk_rate, bpe_fertility)
    assert(inDomain._1 == 0.0,
      s"in-domain window must have zero UNK rate: $inDomain")
    assert(drifted._1 == 1.0,
      s"every drifted word is untileable -> UNK rate 1.0: $drifted")
    assert(drifted._2 > inDomain._2 + 1.0,
      s"drift must raise BPE fertility: $inDomain vs $drifted")
  }

  test("ingest loop: batch 2 gated by batch 1's merges, streaming == " +
    "batch, no corpus text re-read") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val b0 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"), lit("b0").as("arrival"))

    // derive a replay doc: a clean text batch 0 WILL accept (dry run
    // of the stages on a throwaway inventory, no merge)
    val dryKey = s"loopdry_${java.util.UUID.randomUUID().toString.take(6)}"
    graft.ops.IngestOps.buildInventory(spark, dryKey, corpus, "text")
    val replayClean = graft.ops.IngestOps
      .ingestBatch(spark, dryKey, b0, "doc_id", "text")
      .s4.orderBy(col("doc_id")).select(col("clean")).head.getString(0)
    val b1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((999999L, replayClean)).toDF("doc_id", "text"))
      .withColumn("arrival", lit("b1"))

    // frozen models for the drift report (tiny, in-domain irrelevant —
    // the gate is streaming == batch equality plus count consistency)
    val wcounts = (corpusText + " " + corpusText).split(" ")
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toArray.sortBy { case (w, n) => (-n, w) }
    val wp = graft.ops.WordPieceOps.trainVocab(wcounts, numMerges = 16)
    val bpe = graft.ops.BpeOps.trainMerges(wcounts, numMerges = 16)

    // --- streaming: one continuous query, arrival order b0 -> b1 ---
    val dir = Files.createTempDirectory("graft-ingloop").toString
    b0.coalesce(1).write.parquet(s"$dir/b0")
    b1.coalesce(1).write.parquet(s"$dir/b1")
    def stamp(sub: String, ts: Long): Unit =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(ts))
    val t0 = System.currentTimeMillis() - 120000
    stamp("b0", t0); stamp("b1", t0 + 60000)
    val key = s"loop_${java.util.UUID.randomUUID().toString.take(6)}"
    graft.ops.IngestOps.buildInventory(spark, key, corpus, "text")
    val loop = new IngestLoop(spark, key, "doc_id", "text", None, 16,
      Some(wp), Some(bpe))
    val schema = StructType(b0.schema.fields)
    val q = loop.start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/b*"),
      col("arrival"), s"$dir/ckpt")
    q.awaitTermination()
    val streamedStages = loop.stageReport
      .orderBy(col("batch"), col("stage")).collect()
    val streamedDrift = loop.driftReport.orderBy(col("batch")).collect()

    // the loop itself must hold NO streaming state: its only
    // cross-batch state is the persisted inventory artifact
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps == null || stateOps.isEmpty,
      "the ingest loop must plan zero stateful operators")

    // --- batch twin: same frames, same order, direct calls ---
    val key2 = s"loopb_${java.util.UUID.randomUUID().toString.take(6)}"
    graft.ops.IngestOps.buildInventory(spark, key2, corpus, "text")
    val twin = new IngestLoop(spark, key2, "doc_id", "text", None, 16,
      Some(wp), Some(bpe))
    twin.processBatch(b0, "b0")
    twin.processBatch(b1, "b1")
    val twinStages = twin.stageReport
      .orderBy(col("batch"), col("stage")).collect()
    val twinDrift = twin.driftReport.orderBy(col("batch")).collect()
    assert(streamedStages.toSeq == twinStages.toSeq,
      s"streaming != batch stages:\n${streamedStages.mkString("\n")}\n" +
        s"vs\n${twinStages.mkString("\n")}")
    assert(streamedDrift.toSeq == twinDrift.toSeq,
      s"streaming != batch drift:\n${streamedDrift.mkString("\n")}\n" +
        s"vs\n${twinDrift.mkString("\n")}")

    // --- batch 2 was gated against batch 1's merges: the re-arrival
    // of an accepted clean text dies at stage 1 (merged md5 set) ---
    val rows = streamedStages.map(r => (r.getString(0), r.getString(1))
      -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.size == 10, s"2 batches x 5 stages: ${rows.keys}")
    val (n0, s0) = rows(("b1", "0_incoming"))
    val (n1, s1) = rows(("b1", "1_exact"))
    assert(s0 >= 999999L, "replay doc must arrive in batch b1")
    assert(s1 < 999999L && n1 < n0,
      s"replayed accepted doc must die against the MERGED md5 " +
        s"inventory: 0_incoming=($n0,$s0) 1_exact=($n1,$s1)")

    // --- drift rows cover exactly the accepted docs ---
    val acceptedByBatch = Seq("b0", "b1")
      .map(b => rows((b, "4_decon"))._1)
    assert(streamedDrift.map(_.getLong(1)).toSeq == acceptedByBatch,
      s"drift n_docs must equal 4_decon survivors: " +
        s"${streamedDrift.mkString(",")} vs $acceptedByBatch")

    // --- per-batch reads: inventories + the arriving batch only,
    // never stored corpus text ---
    val filesByTag = loop.acceptedInputFiles.toMap
    assert(filesByTag.keySet == Set("b0", "b1"))
    filesByTag.foreach { case (tag, files) =>
      assert(files.nonEmpty, s"$tag: inventory reads must show up")
      val foreign = files.filterNot(f =>
        f.contains(graft.ops.IngestOps.invRoot(key)) ||
          f.contains(dir.stripPrefix("/")))
      assert(foreign.isEmpty,
        s"$tag read non-inventory, non-batch files: " +
          foreign.take(3).mkString(", "))
    }
    graft.ops.IngestOps.dropInventory(key)
    graft.ops.IngestOps.dropInventory(key2)
    graft.ops.IngestOps.dropInventory(dryKey)
  }

  test("ingest loop pack manifest: contiguous incremental offsets, " +
      "restart continues at the stored total") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val corpusDf = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val b0 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
    val b1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .select(col("doc_id"), col("text"))
    val wcounts = (corpusText + " " + corpusText).split(" ")
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toArray.sortBy { case (w, n) => (-n, w) }
    val bpe = graft.ops.BpeOps.trainMerges(wcounts, numMerges = 16)
    // one loop instance processes both batches...
    val k1 = s"pkone_${java.util.UUID.randomUUID().toString.take(6)}"
    graft.ops.IngestOps.buildInventory(spark, k1, corpusDf, "text")
    val d1 = Files.createTempDirectory("graft-packman-one").toString
    val pdir1 = s"$d1/manifest"
    val one = new IngestLoop(spark, k1, "doc_id", "text", None, 16,
      wp = None, bpe = Some(bpe), packManifestDir = Some(pdir1))
    one.processBatch(b0, "b0")
    one.processBatch(b1, "b1")
    val mOne = spark.read.parquet(pdir1)
      .orderBy(col("batch"), col("doc_id")).collect()
    // ...and a RESTART drives batch b1 through a brand-new loop
    // instance over the same artifacts: the stored total (recovered
    // from the manifest parquet — no in-memory state survives) must
    // make the manifests identical
    val keyR = s"pkr_${java.util.UUID.randomUUID().toString.take(6)}"
    graft.ops.IngestOps.buildInventory(spark, keyR, corpusDf, "text")
    val dirR = Files.createTempDirectory("graft-packman-r").toString
    val pdirR = s"$dirR/manifest"
    new IngestLoop(spark, keyR, "doc_id", "text", None, 16,
      wp = None, bpe = Some(bpe), packManifestDir = Some(pdirR))
      .processBatch(b0, "b0")
    // manifest self-maintenance between restarts: the compaction must
    // preserve every row and the stored total the next loop recovers
    assert(graft.ops.IngestOps.compactDirIfNeeded(spark, pdirR,
      maxFiles = 0), "compaction should trigger above the threshold")
    assert(!graft.ops.IngestOps.compactDirIfNeeded(spark, pdirR,
      maxFiles = 16), "under the threshold it must be a no-op")
    new IngestLoop(spark, keyR, "doc_id", "text", None, 16,
      wp = None, bpe = Some(bpe), packManifestDir = Some(pdirR))
      .processBatch(b1, "b1")
    val mR = spark.read.parquet(pdirR)
      .orderBy(col("batch"), col("doc_id")).collect()
    def asTuples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[String]("batch"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("tok_start"))).toSeq
    assert(asTuples(mR) == asTuples(mOne),
      "restarted loop must continue at the stored total")
    // contiguity: offsets are the exclusive cumsum in arrival order
    var off = 0L
    asTuples(mOne).foreach { case (b, id, n, start) =>
      assert(start == off, s"gap at ($b, $id): $start != $off")
      assert(n >= 1L, "n_tok includes the end-of-doc separator")
      off += n
    }
    assert(mOne.nonEmpty, "accepted docs must land in the manifest")
    Seq(k1, keyR).foreach(graft.ops.IngestOps.dropInventory)
    Seq(d1, dirR).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(d)))
  }

  test("exactly-once commit: crash in either redelivery window " +
      "replays to the clean-run manifest row-for-row") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val corpusDf = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val b0 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
    val b1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .select(col("doc_id"), col("text"))
    val wcounts = (corpusText + " " + corpusText).split(" ")
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toArray.sortBy { case (w, n) => (-n, w) }
    val bpe = graft.ops.BpeOps.trainMerges(wcounts, numMerges = 16)
    def mkLoop(key: String, pdir: String) =
      new IngestLoop(spark, key, "doc_id", "text", None, 16,
        wp = None, bpe = Some(bpe), packManifestDir = Some(pdir))
    def tuples(dir: String) = spark.read.parquet(dir)
      .orderBy(col("batch"), col("doc_id")).collect()
      .map(r => (r.getAs[String]("batch"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("tok_start"))).toSeq
    def accepted(l: IngestLoop, tag: String): Long = l.stageReport
      .filter(col("batch") === tag && col("stage") === "4_decon")
      .head.getLong(2)
    val run = java.util.UUID.randomUUID().toString.take(6)

    // --- clean run: the reference manifest ---
    val kA = s"xo_a_$run"
    graft.ops.IngestOps.buildInventory(spark, kA, corpusDf, "text")
    val dA = Files.createTempDirectory("graft-xo-a").toString + "/m"
    val a = mkLoop(kA, dA)
    a.processBatch(b0, "b0"); a.processBatch(b1, "b1")
    val mClean = tuples(dA)
    assert(mClean.nonEmpty)

    // --- window 1: crash AFTER the manifest delta write, BEFORE the
    // inventory merge — the r10 at-least-once defect. The replay must
    // re-accept (merge never happened), REPLACE the half-landed delta,
    // and land on the clean manifest. ---
    val kB = s"xo_b_$run"
    graft.ops.IngestOps.buildInventory(spark, kB, corpusDf, "text")
    val dB = Files.createTempDirectory("graft-xo-b").toString + "/m"
    val bLoop = mkLoop(kB, dB)
    bLoop.processBatch(b0, "b0")
    bLoop.crashAfterManifestWrite = true
    intercept[IllegalStateException] { bLoop.processBatch(b1, "b1") }
    assert(graft.ops.IngestOps.taggedDeltaExists(dB, "b1"),
      "the crash window must leave b1's half-landed delta behind")
    assert(!graft.ops.IngestOps.batchCommitted(kB, "b1"),
      "no commit marker inside the window")
    // restart = a brand-new loop instance (no in-memory state survives)
    val bReplay = mkLoop(kB, dB)
    bReplay.processBatch(b1, "b1")
    assert(accepted(bReplay, "b1") > 0,
      "window-1 replay must re-accept (the merge never ran)")
    assert(tuples(dB) == mClean,
      "window-1 replay must overwrite the tag's delta, not append: " +
        s"\n${tuples(dB)}\nvs\n$mClean")
    assert(graft.ops.IngestOps.batchCommitted(kB, "b1"))

    // --- window 2: crash AFTER the merge, BEFORE the marker. The
    // replay gates to empty and must leave the stored delta alone. ---
    val kC = s"xo_c_$run"
    graft.ops.IngestOps.buildInventory(spark, kC, corpusDf, "text")
    val dC = Files.createTempDirectory("graft-xo-c").toString + "/m"
    val cLoop = mkLoop(kC, dC)
    cLoop.processBatch(b0, "b0"); cLoop.processBatch(b1, "b1")
    graft.ops.IngestOps.unmarkCommitted(kC, "b1") // die before marker
    val cReplay = mkLoop(kC, dC)
    cReplay.processBatch(b1, "b1")
    assert(accepted(cReplay, "b1") == 0,
      "window-2 replay gates to empty against the merged inventory")
    assert(tuples(dC) == mClean,
      "window-2 replay must keep the stored delta rows untouched")
    assert(graft.ops.IngestOps.batchCommitted(kC, "b1"),
      "the replay must re-establish the commit marker")
    // and the recovered total stays right: a THIRD batch (re-offering
    // b0's docs, which all die) then a genuinely new doc continues at
    // the stored end offset with no gap and no overlap
    val extra = Seq((777777L, "an entirely novel soak document with " +
      "enough fresh words to clear the quality band " +
      (1 to 20).map(i => s"novelword$i").mkString(" ")))
      .toDF("doc_id", "text")
    cReplay.processBatch(extra, "b2")
    val all = tuples(dC)
    var off = 0L
    all.foreach { case (b, id, n, start) =>
      assert(start == off, s"offset gap/overlap at ($b,$id)")
      off += n
    }
    assert(all.map(_._2).contains(777777L))

    // --- committed-tag redelivery on a live loop is a no-op ---
    val before = cReplay.stageReport.collect().toSeq
    cReplay.processBatch(b1, "b1")
    assert(cReplay.stageReport.collect().toSeq == before,
      "redelivery of a committed tag must not re-run or re-account")

    Seq(kA, kB, kC).foreach(graft.ops.IngestOps.dropInventory)
  }

  test("intra-merge crash window degrades benignly (seg-first order), " +
      "and committed-tag REUSE with different content fails loud") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val corpusDf = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val b0 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
    val b1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .select(col("doc_id"), col("text"))
    val wcounts = (corpusText + " " + corpusText).split(" ")
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toArray.sortBy { case (w, n) => (-n, w) }
    val bpe = graft.ops.BpeOps.trainMerges(wcounts, numMerges = 16)
    val run = java.util.UUID.randomUUID().toString.take(6)
    val key = s"xm_$run"
    graft.ops.IngestOps.buildInventory(spark, key, corpusDf, "text")
    val mdir = Files.createTempDirectory("graft-xm").toString + "/m"
    def mkLoop() = new IngestLoop(spark, key, "doc_id", "text", None, 16,
      wp = None, bpe = Some(bpe), packManifestDir = Some(mdir))
    val loop = mkLoop()
    loop.processBatch(b0, "b0")

    // what b1 WOULD accept against the post-b0 inventory (dry gate)
    val b1Clean = graft.ops.IngestOps
      .ingestBatch(spark, key, b1, "doc_id", "text")
      .s4.orderBy(col("doc_id")).select(col("clean"))
      .collect().map(_.getString(0))
    assert(b1Clean.nonEmpty)

    // crash INSIDE mergeAccepted: segment delta landed, md5 delta not
    graft.ops.IngestOps.crashBetweenMergeWrites = true
    try intercept[IllegalStateException] { loop.processBatch(b1, "b1") }
    finally graft.ops.IngestOps.crashBetweenMergeWrites = false
    assert(!graft.ops.IngestOps.batchCommitted(key, "b1"))

    // replay on a fresh instance: the gate passes stage 1 (md5s never
    // landed) but stage 2 excises everything against the just-merged
    // segments — the batch drops HARMLESSLY instead of leaving its
    // segments unrecorded (what the md5-first order would do)
    val manifestBefore = spark.read.parquet(mdir)
      .orderBy(col("batch"), col("doc_id")).collect().toSeq
    val replay = mkLoop()
    replay.processBatch(b1, "b1")
    val acc = replay.stageReport
      .filter(col("batch") === "b1" && col("stage") === "4_decon")
      .head.getLong(2)
    assert(acc == 0, s"replay must gate to zero accepted: $acc")
    assert(graft.ops.IngestOps.batchCommitted(key, "b1"))
    assert(spark.read.parquet(mdir)
      .orderBy(col("batch"), col("doc_id")).collect().toSeq
      == manifestBefore, "the stored manifest delta must survive")

    // the correctness property the write order buys: content that
    // shares the crashed batch's segments is STILL excised — an exact
    // re-offer of an accepted clean text dies entirely
    val reoffer = Seq((888888L, b1Clean.head)).toDF("doc_id", "text")
    replay.processBatch(reoffer, "b2")
    assert(replay.stageReport
      .filter(col("batch") === "b2" && col("stage") === "4_decon")
      .head.getLong(2) == 0,
      "re-offered crashed-batch content must still be excised")

    // tag REUSE with different content under a committed tag: loud
    val ex = intercept[IllegalStateException] {
      replay.processBatch(
        Seq((777777L, "completely different payload")).toDF(
          "doc_id", "text"), "b1")
    }
    assert(ex.getMessage.contains("different content"), ex.getMessage)
    // true redelivery (same rows) stays a silent no-op
    val before = replay.stageReport.collect().toSeq
    replay.processBatch(b1, "b1")
    assert(replay.stageReport.collect().toSeq == before)

    graft.ops.IngestOps.dropInventory(key)
  }

  test("a failed batch job leaves none of the batch's concurrent jobs " +
      "running, and processBatch rethrows its error") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val key = s"fail_${java.util.UUID.randomUUID().toString.take(6)}"
    graft.ops.IngestOps.buildInventory(spark, key,
      docs.filter(lit(false)), "text")
    // string ids: the gate only partitions, orders and groups by the
    // id, so the batch gates cleanly; the stage-accounting job casts
    // it to long and fails (ANSI) on the one non-numeric id while the
    // drift and segment-delta jobs of the same batch are running
    val minId = docs.agg(min(col("doc_id"))).head.getLong(0)
    val batch = docs.select(
      when(col("doc_id") === minId, lit("bad-id"))
        .otherwise(col("doc_id").cast("string")).as("doc_id"),
      col("text"))
    val wcounts = (corpusText + " " + corpusText).split(" ")
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toArray.sortBy { case (w, n) => (-n, w) }
    val loop = new IngestLoop(spark, key, "doc_id", "text", None, 16,
      Some(graft.ops.WordPieceOps.trainVocab(wcounts, numMerges = 16)),
      Some(graft.ops.BpeOps.trainMerges(wcounts, numMerges = 16)))
    val ex = intercept[Exception] { loop.processBatch(batch, "b0") }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("bad-id")),
      s"the accounting job's cast error must propagate: $ex")
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    val active = spark.sparkContext.statusTracker.getActiveJobIds
    assert(active.isEmpty,
      s"jobs still running after the failed batch: ${active.mkString(",")}")
    assert(!graft.ops.IngestOps.batchCommitted(key, "b0"))
    graft.ops.IngestOps.dropInventory(key)
  }
}
