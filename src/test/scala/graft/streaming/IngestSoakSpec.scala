package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.IngestOps

/** Long-run SOAK of the ingest loop (round-11 verdict item #2): the
  * self-maintenance claims were gated at ~10 merges; this drives a
  * 40-batch loop (sf0.01 documents split by doc_id residue) and
  * asserts the properties a week-long production loop needs:
  *
  *  - compaction TRIGGERS REPEATEDLY (file-count drops observed at
  *    least twice per maintained dir family across the run);
  *  - inventory + manifest file counts stay BOUNDED the whole way
  *    (never above threshold + the in-flight batch's appends);
  *  - per-batch wall time stays FLAT — the late-soak mean must not
  *    drift superlinearly above the early-soak mean (per-batch work is
  *    batch-sized against hash-compact inventories by design);
  *  - a RESTART MID-SOAK (new loop instance over the same artifacts at
  *    batch 20) produces stage reports and a manifest row-for-row
  *    EQUAL to an unbroken 40-batch run — the artifact IS the state;
  *  - final-state consistency: md5 inventory = corpus md5s + one novel
  *    hash per accepted doc; the segment inventory stays a set; the
  *    manifest is an exclusive cumsum with one row per accepted doc;
  *  - a replay-everything final batch gates to ZERO accepted — the
  *    merged inventories really contain everything stored.
  *
  * The measured per-batch times are printed (info) and recorded in
  * PLANS.md per the round-11 soak item.
  */
class IngestSoakSpec extends SparkSpec {

  import spark.implicits._

  private val Sf001 = "/root/testdata/sf0.01"
  private val Batches = 40

  test("40-batch soak: flat cost, repeated compaction, bounded files, " +
      "mid-soak restart == unbroken run") {
    val docs = graft.Tables.documents(spark, Sf001)
      .select(col("doc_id"), col("text"))
    // corpus = residues 40..49 of doc_id % 50; batches 0..39 get the
    // rest — disjoint slices, every doc offered exactly once
    val corpusDf = docs.filter(pmod(col("doc_id"), lit(50)) >= 40)
    val batches = (0 until Batches).map(i =>
      docs.filter(pmod(col("doc_id"), lit(50)) === i)
        .localCheckpoint(true))
    val wcounts = Array(("the", 4L), ("a", 3L), ("fox", 2L), ("dog", 2L))
    val bpe = graft.ops.BpeOps.trainMerges(wcounts, numMerges = 8)
    val run = java.util.UUID.randomUUID().toString.take(6)

    def inventoryFiles(key: String, sub: String): Int = {
      val d = new java.io.File(IngestOps.invRoot(key) + "/" + sub)
      if (!d.exists()) 0
      else d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    def manifestFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0
      else d.listFiles().count(_.getName.endsWith(".parquet"))
    }

    // --- the soak run, with a restart at batch 20 ---
    val key = s"soak_$run"
    IngestOps.buildInventory(spark, key, corpusDf, "text")
    val mdir = java.nio.file.Files
      .createTempDirectory("graft-soak").toString + "/manifest"
    def mkLoop() = new IngestLoop(spark, key, "doc_id", "text", None, 16,
      wp = None, bpe = Some(bpe), packManifestDir = Some(mdir))
    var loop = mkLoop()
    val times = new Array[Double](Batches)
    val fileCounts = new Array[(Int, Int, Int)](Batches)
    var compactions = 0
    var prevFiles = (0, 0, 0)
    (0 until Batches).foreach { i =>
      if (i == 20) loop = mkLoop() // restart: artifacts are the state
      val t0 = System.nanoTime()
      loop.processBatch(batches(i), f"b$i%02d")
      times(i) = (System.nanoTime() - t0) / 1e9
      val fc = (inventoryFiles(key, "md5"), inventoryFiles(key, "seg"),
        manifestFiles(mdir))
      fileCounts(i) = fc
      // a drop in any maintained dir's file count = a compaction ran
      if (i > 0 && (fc._1 < prevFiles._1 || fc._2 < prevFiles._2 ||
          fc._3 < prevFiles._3)) compactions += 1
      prevFiles = fc
    }
    info(s"per-batch seconds: " +
      times.map(t => f"$t%.2f").mkString(", "))
    info(s"file counts (md5, seg, manifest) per batch: " +
      fileCounts.map { case (a, b, c) => s"$a/$b/$c" }.mkString(", "))
    info(s"compaction events observed: $compactions")

    // repeated self-maintenance: threshold 16 trips at least twice in
    // 40 single-file-append batches per dir family
    assert(compactions >= 2,
      s"compaction must trigger repeatedly across the soak: $compactions")
    // bounded files: never above threshold + the in-flight appends
    fileCounts.zipWithIndex.foreach { case ((a, b, c), i) =>
      assert(a <= 20 && b <= 20 && c <= 20,
        s"file count must stay bounded at batch $i: $a/$b/$c")
    }
    // flat per-batch cost: late-soak mean vs early-soak mean (skip the
    // first 5 warm-up batches; 2x headroom absorbs local jitter, while
    // a superlinear gating join — per-batch cost growing with stored
    // corpus size — would blow far past it)
    val early = times.slice(5, 15).sum / 10
    val late = times.slice(Batches - 10, Batches).sum / 10
    info(f"early mean $early%.2f s, late mean $late%.2f s, " +
      f"ratio ${late / early}%.2f")
    assert(late <= early * 2.0,
      f"per-batch cost must stay flat: early $early%.2f s -> " +
        f"late $late%.2f s")

    // --- unbroken twin: same 40 frames, one loop instance ---
    val key2 = s"soaku_$run"
    IngestOps.buildInventory(spark, key2, corpusDf, "text")
    val mdir2 = java.nio.file.Files
      .createTempDirectory("graft-soak-u").toString + "/manifest"
    val twin = new IngestLoop(spark, key2, "doc_id", "text", None, 16,
      wp = None, bpe = Some(bpe), packManifestDir = Some(mdir2))
    (0 until Batches).foreach(i => twin.processBatch(batches(i), f"b$i%02d"))
    def tuples(dir: String) = spark.read.parquet(dir)
      .orderBy(col("batch"), col("doc_id")).collect()
      .map(r => (r.getAs[String]("batch"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("tok_start"))).toSeq
    assert(tuples(mdir) == tuples(mdir2),
      "mid-soak restart must produce the unbroken run's manifest")
    // stage reports: the restarted run's post-restart rows equal the
    // unbroken run's (pre-restart rows live in the dead instance)
    def stages(l: IngestLoop) = l.stageReport
      .filter(col("batch") >= "b20")
      .orderBy(col("batch"), col("stage")).collect().toSeq
    assert(stages(loop) == stages(twin),
      "post-restart stage accounting must equal the unbroken run's")

    // --- final-state consistency ---
    val nCorpus = IngestOps.docMd5s(corpusDf, "text").count()
    val nAccepted = twin.stageReport
      .filter(col("stage") === "4_decon")
      .agg(sum(col("n_docs"))).head.getLong(0)
    val inv = IngestOps.inventoryMd5s(spark, key)
    assert(inv.count() == inv.distinct().count(), "md5 inventory is a set")
    assert(inv.count() == nCorpus + nAccepted,
      s"md5 inventory = corpus + accepted: ${inv.count()} vs " +
        s"$nCorpus + $nAccepted")
    val segs = IngestOps.inventorySegments(spark, key)
    assert(segs.count() == segs.select(col("sh")).distinct().count(),
      "segment inventory is a set")
    val manifest = tuples(mdir)
    assert(manifest.length == nAccepted,
      "one manifest row per accepted doc")
    var off = 0L
    manifest.foreach { case (b, id, n, start) =>
      assert(start == off, s"manifest offset gap at ($b,$id)")
      off += n
    }

    // --- replay-everything batch gates to zero accepted ---
    loop.processBatch(docs, "zz_replay")
    val replayAccepted = loop.stageReport
      .filter(col("batch") === "zz_replay" && col("stage") === "4_decon")
      .head.getLong(2)
    assert(replayAccepted == 0,
      s"re-offering the whole corpus must gate to zero: $replayAccepted")

    Seq(key, key2).foreach(IngestOps.dropInventory)
  }
}
