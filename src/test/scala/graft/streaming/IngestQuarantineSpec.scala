package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{IngestOps, QuarantineOps, StorageOps}

/** Gates for the quarantine lane THREADED THROUGH THE INGEST LOOP
  * (payload mode): per-batch accounting reconciles exactly
  * (seen = decoded + quarantined; accepted + gated-out = decoded),
  * the quarantine artifact holds the planted rows with the decoder's
  * own classes, a crash between the quarantine write and the
  * inventory merge replays to the unbroken twin's state, and a
  * committed-tag redelivery is a structural no-op. */
class IngestQuarantineSpec extends SparkSpec {

  import spark.implicits._

  private val Sf001 = "/root/testdata/sf0.01"

  /** Heterogeneous blobs (every third doc a checksummed zstd frame,
    * the rest gzip members — the loop dispatches by magic); corrupt
    * per doc_id rule (mod 10 = 2 → magic overwrite, = 7 → final-byte
    * flip: gzip ISIZE trailer or zstd frame checksum, both
    * integrity). */
  private def payloadTable() =
    QuarantineOps.corruptPayloadTable(spark,
      graft.Tables.documents(spark, Sf001))
      .localCheckpoint(true)

  private def freshLoop(run: String): (IngestLoop, String, String) = {
    val key = s"ingqspec_$run"
    IngestOps.buildInventory(spark,
      key, graft.Tables.documents(spark, Sf001).filter(lit(false)),
      "text")
    val qdir = StorageOps.scratchPath(s"ingqspec_quar_$run")
    (new IngestLoop(spark, key, "doc_id", "text", None, 16, None,
      None, None, payloadCol = Some("content"),
      quarantineDir = Some(qdir)), key, qdir)
  }

  private def cleanup(key: String, qdir: String): Unit = {
    IngestOps.dropInventory(key)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(qdir))
  }

  test("per-batch accounting reconciles and the artifact holds the " +
      "planted rows with the decoder's own classes") {
    val payloads = payloadTable()
    val run = java.util.UUID.randomUUID().toString.take(8)
    val (loop, key, qdir) = freshLoop(run)
    try {
      (0 until 4).foreach { i =>
        loop.processBatch(
          payloads.filter(pmod(col("doc_id"), lit(4)) === i), s"b$i")
      }
      val st = loop.stageReport.collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      (0 until 4).foreach { i =>
        val tag = s"b$i"
        val (seen, seenSum) = st((tag, "0_incoming"))
        val (dec, decSum) = st((tag, "0a_decoded"))
        val (quar, quarSum) = st((tag, "0b_quarantined"))
        assert(seen == dec + quar, s"$tag: seen != decoded+quarantined")
        assert(seenSum == decSum + quarSum, s"$tag: id sums drift")
        val (acc, _) = st((tag, "4_decon"))
        assert(acc <= dec, s"$tag: accepted past decoded")
        assert(quar > 0, s"$tag: planting rule produced no corruption")
      }
      // the artifact matches the planting arithmetic exactly
      val got = loop.quarantineReport.collect()
        .map(r => (r.getLong(1), r.getString(2))).sorted.toSeq
      val want = payloads.select(col("doc_id")).as[Long].collect()
        .filter(id => id % 10 == 2 || id % 10 == 7)
        .map(id => (id,
          if (id % 10 == 2) "bad_magic" else "integrity"))
        .sorted.toSeq
      assert(got == want, "quarantine artifact != planted corruption")
      // quarantined docs never reached the inventories: replaying the
      // whole corpus DECODED CLEAN accepts exactly the quarantined
      // docs' texts (everything else is stored) minus gate rejections
      val md5s = IngestOps.inventoryMd5s(spark, key).count()
      assert(md5s > 0)
    } finally cleanup(key, qdir)
  }

  test("crash between the quarantine write and the inventory merge " +
      "replays to the unbroken twin's exact state; committed-tag " +
      "redelivery is a no-op") {
    val payloads = payloadTable()
    val b0 = payloads.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b1 = payloads.filter(pmod(col("doc_id"), lit(2)) =!= 0)

    // unbroken twin
    val runA = java.util.UUID.randomUUID().toString.take(8)
    val (twin, keyA, qdirA) = freshLoop(runA)
    // crashed-and-replayed loop
    val runB = java.util.UUID.randomUUID().toString.take(8)
    val (loop, keyB, qdirB) = freshLoop(runB)
    try {
      twin.processBatch(b0, "b0"); twin.processBatch(b1, "b1")

      loop.processBatch(b0, "b0")
      loop.crashAfterManifestWrite = true // fires BEFORE the merge
      intercept[IllegalStateException] { loop.processBatch(b1, "b1") }
      loop.crashAfterManifestWrite = false
      loop.processBatch(b1, "b1") // the at-least-once redelivery
      loop.processBatch(b1, "b1") // committed-tag replay: no-op

      def state(key: String, qdir: String, l: IngestLoop) = (
        IngestOps.inventoryMd5s(spark, key).orderBy(col("h"))
          .collect().map(_.getString(0)).toSeq,
        l.quarantineReport.orderBy(col("doc_id"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getString(2))).toSeq)
      val (md5A, quarA) = state(keyA, qdirA, twin)
      val (md5B, quarB) = state(keyB, qdirB, loop)
      assert(md5A == md5B, "inventory drift after crash+replay")
      assert(quarA == quarB, "quarantine artifact drift (duplicate " +
        "rows would mean the tagged overwrite failed)")
    } finally { cleanup(keyA, qdirA); cleanup(keyB, qdirB) }
  }

  test("the STREAMING loop in payload mode == its batch twin: same " +
      "stage reports, same quarantine artifact, row for row") {
    val payloads = payloadTable()
    val run = java.util.UUID.randomUUID().toString.take(8)
    // stream input: two file batches with an arrival tag, stamped so
    // maxFilesPerTrigger=1 drains them in order
    val inDir = StorageOps.scratchPath(s"ingqspec_stream_$run")
    payloads.filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumn("arrival", lit("b0"))
      .coalesce(1).write.parquet(s"$inDir/b0")
    payloads.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .withColumn("arrival", lit("b1"))
      .coalesce(1).write.parquet(s"$inDir/b1")
    def stamp(sub: String, ts: Long): Unit =
      new java.io.File(s"$inDir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(ts))
    val t0 = System.currentTimeMillis() - 120000
    stamp("b0", t0); stamp("b1", t0 + 60000)

    val (streamLoop, keyS, qdirS) = freshLoop(run + "s")
    val (batchLoop, keyB, qdirB) = freshLoop(run + "b")
    val ckpt = StorageOps.scratchPath(s"ingqspec_ckpt_$run")
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("arrival",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/b*")
      streamLoop.start(stream, col("arrival"), ckpt).awaitTermination()

      batchLoop.processBatch(
        payloads.filter(pmod(col("doc_id"), lit(2)) === 0), "b0")
      batchLoop.processBatch(
        payloads.filter(pmod(col("doc_id"), lit(2)) =!= 0), "b1")

      def rows(l: IngestLoop) = (
        l.stageReport.orderBy(col("batch"), col("stage")).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSeq,
        l.quarantineReport.orderBy(col("doc_id")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          .toSeq)
      val (stS, quS) = rows(streamLoop)
      val (stB, quB) = rows(batchLoop)
      assert(stS == stB, "streaming stage report != batch twin")
      assert(quS == quB, "streaming quarantine artifact != batch twin")
      assert(quS.nonEmpty)
    } finally {
      cleanup(keyS, qdirS); cleanup(keyB, qdirB)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(inDir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
    }
  }
}
