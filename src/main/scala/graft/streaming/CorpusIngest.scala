package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.HashFunctions
import graft.ops.{DedupOps, StorageOps}

/** Streaming corpus-ingest quality gates: continuous document streams
  * checked against PERSISTED corpus artifacts at micro-batch latency.
  * The batch complement is [[graft.ops.DedupOps.incrementalMinhashPairs]]
  * (the daily-compaction shape); this is the same artifact contract at
  * streaming freshness — a doc flagged the moment it lands, not at the
  * next compaction.
  */
object CorpusIngest {

  /** Streaming MinHash near-duplicate gate: each arriving document is
    * checked against the persisted corpus sketch tables — the band
    * table and the hashed shingle-set table that
    * [[graft.ops.DedupOps.minhashBands]] / [[DedupOps.shingleSets]]
    * write — and every verified (doc, corpus partner, jaccard) match
    * at or above `threshold` is emitted.
    *
    * State discipline (the property that keeps this runnable forever):
    * everything corpus-shaped stays STATIC. The stream side computes
    * its signature row-locally (one HOF pass, no shuffle), candidates
    * come from a stream-static equi-join on (band_id, band_hash),
    * verification is a second stream-static join against the shingle
    * table plus a map-side intersect — all stateless. The ONLY state
    * in the query is the watermarked pair-dedup that collapses
    * multi-band hits on the same partner
    * (`dropDuplicatesWithinWatermark` — bounded by the horizon).
    *
    * Contract: the gate checks stream-vs-CORPUS only. New-vs-new
    * duplicates inside the unmerged ingest window are out of scope
    * here and belong to the next batch compaction
    * ([[DedupOps.incrementalMinhashPairs]] covers both directions) —
    * splitting it this way keeps the streaming query free of
    * stream-stream joins and their state.
    *
    * The stream's shingle set rides along the banded rows (bands× one
    * int-array per doc inside a micro-batch — bounded by batch size,
    * never by corpus size). On batch input the same plan runs with a
    * plain pair-distinct; streaming==batch is the spec gate. */
  def neardupGateStream(docs: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, idCol: String, textCol: String,
      tsCol: String = "ts", threshold: Double = 0.8,
      watermark: String = "1 hour", k: Int = 64, bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    val toks = DedupOps.tokens(col(textCol))
    val withSketch = docs.select(col(idCol), col(tsCol),
      HashFunctions.minhashSignature(toks, k, shingleN).as("sig"),
      HashFunctions.shingleHashes(toks, shingleN).as("sh_a"))
    require(bands > 0 && k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands")
    val r = k / bands
    val banded = withSketch.select(col(idCol), col(tsCol), col("sh_a"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * lit(r) + 1, lit(r))))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
    val verified = banded
      .join(corpusBands.select(col("band_id"), col("band_hash"),
        col(idCol).as("partner")), Seq("band_id", "band_hash"))
      .filter(col(idCol) =!= col("partner"))
      .join(corpusShingles.select(col(idCol).as("partner"),
        col("shingles").as("sh_b")), Seq("partner"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col(tsCol), col(idCol), col("partner"), col("jaccard"))
    if (docs.isStreaming)
      verified.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(Seq(idCol, "partner"))
    else verified.dropDuplicates(Seq(idCol, "partner"))
  }

  /** Streaming SEGMENT-LEVEL dedup gate — the CCNet line-dedup
    * contract of [[graft.ops.DedupOps.segmentDedup]] at ingest
    * latency: each arriving document is segmented ROW-LOCALLY (the
    * same `segLen`-token tiling as the batch compaction), every
    * segment probed against the persisted corpus segment bloom
    * (built from [[DedupOps.corpusSegmentHashes]] via the
    * cachedEvalBloom artifact flow), and the doc emitted with its
    * segment counts plus the md5 of the text reassembled from
    * CORPUS-NOVEL segments only — what an ingest pipeline would
    * actually append.
    *
    * Statefulness: NONE. Segmentation, the bloom probe (codegen'd
    * BloomFilterMightContain on a broadcast literal — the filter
    * bytes ride the task closure, no join), and reassembly are all
    * row-local; the query plans with zero stateful operators and no
    * watermark, so it runs forever at constant memory. The fpp
    * misflags a novel segment as duplicate at the filter's rate — the
    * bloom-decontamination trade; the next batch compaction
    * ([[DedupOps.segmentDedup]], exact) reconciles. Stream-vs-corpus
    * only, like [[neardupGateStream]]: new-vs-new duplicate segments
    * inside the unmerged window belong to the compaction. */
  def segmentGateStream(docs: DataFrame, bloomBytes: Array[Byte],
      idCol: String, textCol: String, tsCol: String = "ts",
      segLen: Int = 16): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1 (got $segLen)")
    val segText: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      i => array_join(slice(col("__w"), i * segLen + 1, lit(segLen)), " ")
    docs
      .withColumn("__w", DedupOps.tokens(col(textCol)))
      .withColumn("__keep", filter(
        sequence(lit(0),
          DedupOps.idiv(size(col("__w")) + lit(segLen - 1), lit(segLen))
            .cast("int") - 1),
        i => !DedupOps.bloomMightContain(bloomBytes,
          xxhash64(segText(i)))))
      .select(col(idCol), col(tsCol),
        DedupOps.idiv(size(col("__w")) + lit(segLen - 1), lit(segLen))
          .cast("long").as("n_segs"),
        size(col("__keep")).cast("long").as("n_novel"),
        md5(array_join(transform(col("__keep"), segText), " "))
          .as("novel_md5"))
  }

  /** Streaming TOKENIZER-DRIFT monitor: per event-time window, how
    * well the SHIPPED frozen tokenizer models fit the live document
    * stream — the WordPiece `[UNK]` rate (words the trained
    * vocabulary cannot tile at all) and the trained-BPE fertility
    * (pieces per word; rises when the stream's subword distribution
    * leaves the training corpus). A corpus shift — a new language, a
    * new domain, a markup burst — moves these hours before anyone
    * inspects samples, which is exactly when a retrain
    * ([[graft.ops.BpeOps.cachedTrain]] on the grown corpus) should be
    * scheduled.
    *
    * Scale/state discipline: both models ride as KILOBYTE task
    * references inside the codegen'd encode expressions
    * ([[graft.functions.WordPieceEncode]]/[[graft.functions.BpeEncode]]
    * — map-side, whole-stage codegen, nothing corpus-shaped anywhere);
    * per-doc counts collapse map-side into ONE watermarked windowed
    * aggregation, the query's only stateful operator. Rates divide
    * exact long sums once at the end, so streaming and batch agree
    * bit-for-bit (the spec gate). On batch input the identical plan
    * runs without the watermark. */
  def tokenizerDriftStream(docs: DataFrame,
      wp: graft.functions.WordPieceModel,
      bpe: graft.functions.BpeModel, textCol: String,
      tsCol: String = "ts", windowDur: String = "10 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val base = if (docs.isStreaming)
      docs.withWatermark(tsCol, watermark) else docs
    val pieces = graft.ops.WordPieceOps.encode(col(textCol), wp)
    base
      .select(col(tsCol),
        size(split(col(textCol), " ")).cast("long").as("__w"),
        size(graft.ops.BpeOps.encode(col(textCol), bpe)).cast("long")
          .as("__bp"),
        size(pieces).cast("long").as("__wp"),
        // array_remove, not filter(=== "[UNK]"): ArrayFilter is a
        // CodegenFallback HOF; the size difference counts [UNK]
        // occurrences entirely inside codegen
        (size(pieces) - size(array_remove(pieces, "[UNK]")))
          .cast("long").as("__unk"))
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__bp")).as("n_bpe_pieces"),
        sum(col("__wp")).as("n_wp_pieces"),
        sum(col("__unk")).as("n_unk"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_docs"),
        col("n_words"), col("n_bpe_pieces"), col("n_wp_pieces"),
        col("n_unk"),
        // guard the zero-denominator window (ANSI: 0/0 errors) — a
        // window of only-empty docs has no pieces and rates 0.0
        when(col("n_wp_pieces") === 0L, lit(0.0))
          .otherwise(round(col("n_unk") / col("n_wp_pieces")
            .cast("double"), 6)).as("unk_rate"),
        when(col("n_words") === 0L, lit(0.0))
          .otherwise(round(col("n_bpe_pieces") / col("n_words")
            .cast("double"), 4)).as("bpe_fertility"))
  }
}

/** The PRODUCTION INGEST LOOP — the end-to-end composition the gates
  * above run alone: one foreachBatch orchestration that, per arriving
  * micro-batch, (1) gates the batch through all four
  * [[graft.ops.IngestOps.ingestBatch]] stages against the PERSISTED
  * inventories, (2) materializes the accepted docs BEFORE any
  * inventory write (the ordering that makes the loop correct — see
  * [[processBatch]]), (3) MERGES the accepted batch into the
  * inventories so the NEXT batch is gated against everything stored so
  * far, and (4) emits per-batch stage accounting plus (when the frozen
  * tokenizer models are supplied) the [[CorpusIngest
  * .tokenizerDriftStream]] drift metrics over the accepted text.
  *
  * Scale shape — the whole point of the composition: per batch, the
  * loop reads (a) the batch and (b) hash-compact inventory parquet,
  * NEVER stored corpus text (spec-gated on `inputFiles`); the merge
  * appends batch-sized hash files; driver state per batch is a handful
  * of accounting rows (bounded by stages × batches, not by data). The
  * inventories are the loop's only cross-batch state, so the streaming
  * query itself plans ZERO stateful operators — restart recovery is
  * the file-source checkpoint plus the already-merged artifact, the
  * same story at 100 TB.
  *
  * Batch-twin contract: calling [[processBatch]] directly on the same
  * batch frames in the same order produces identical reports
  * (streaming == batch, CorpusIngestSpec), and the declared
  * `pipeline_ingest_stream` query replays the whole two-batch loop in
  * DuckDB (each batch's stages unrolled against the inventory state
  * the merges left behind) — the cross-engine certification of the
  * loop as ONE composition, not of its stages in isolation.
  */
final class IngestLoop(spark: SparkSession, key: String, idCol: String,
    textCol: String, evalGrams: Option[DataFrame] = None,
    segLen: Int = 16,
    wp: Option[graft.functions.WordPieceModel] = None,
    bpe: Option[graft.functions.BpeModel] = None,
    packManifestDir: Option[String] = None,
    payloadCol: Option[String] = None,
    quarantineDir: Option[String] = None) {

  require(payloadCol.isEmpty || quarantineDir.nonEmpty,
    "payload mode requires a quarantineDir — a crawl loop without a " +
      "quarantine lane dies on its first corrupt blob")

  private val stageBuf =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private val driftBuf = scala.collection.mutable.ArrayBuffer
    .empty[(String, Long, Long, Long, Long, Long, Double, Double)]
  /** `inputFiles` of each batch's accepted-docs plan, by batch tag —
    * the no-corpus-text-read audit surface (bounded: file names). */
  private[graft] val acceptedInputFiles =
    scala.collection.mutable.ArrayBuffer.empty[(String, Array[String])]

  /** Test-only fault injection: throw between the manifest delta
    * write and the inventory merge — the at-least-once redelivery
    * window the commit protocol exists for (CorpusIngestSpec kills
    * the loop here and replays the batch). */
  private[graft] var crashAfterManifestWrite = false

  /** Env-gated phase timing (SPARK_GRAFT_LOOP_PROFILE=1): prints each
    * per-batch phase's wall so the loop's cost structure is measurable
    * without a debugger — reads nothing, changes nothing. */
  private val profileLoop =
    sys.env.get("SPARK_GRAFT_LOOP_PROFILE").contains("1")
  private def timed[A](name: String)(body: => A): A =
    if (!profileLoop) body
    else {
      val t0 = System.nanoTime()
      val r = body
      println(f"      [loop] $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

  /** Gate + account + merge ONE batch. The accepted frame is
    * `localCheckpoint`ed BEFORE [[graft.ops.IngestOps.mergeAccepted]]
    * runs: the stage plans read the inventory listings lazily, so an
    * un-materialized `s4` re-evaluated after the merge would gate the
    * batch against its OWN just-merged hashes and reject everything.
    * Stage accounting rows collect pre-merge for the same reason.
    *
    * EXACTLY-ONCE under foreachBatch redelivery (the at-least-once
    * crash window closed in round 11): the manifest delta writes via
    * [[graft.ops.IngestOps.overwriteTagged]] (a replay REPLACES the
    * tag's files), the inventory merge is idempotent (anti-joined
    * deltas), and a per-tag commit marker
    * ([[graft.ops.IngestOps.markCommitted]]) lands only after both —
    * so a redelivered committed batch is a structural no-op, a crash
    * after the manifest but before the merge replays to identical
    * manifest rows (the recovery base EXCLUDES the tag's own
    * half-landed rows), and a crash after the merge but before the
    * marker replays to an empty gate that leaves the stored delta
    * untouched. The only replay residue is the per-RUN accounting
    * report: a post-merge replay accounts the batch as 0 accepted —
    * truthful for that run (it did accept nothing; the artifacts
    * already had it), and in-run redelivery REPLACES the tag's
    * accounting rows rather than duplicating them. */
  def processBatch(batch: DataFrame, tag: String): Unit = synchronized {
    // Exactly-once replay guard WITH tag-reuse detection: a committed
    // tag's marker stores the batch's content fingerprint, so a true
    // redelivery (same rows) is a no-op while a NEW batch illegally
    // reusing a committed tag FAILS LOUD — silently skipping it would
    // drop data, silently processing it would overwrite the tag's
    // manifest delta. The fingerprint agg runs only when a marker
    // exists (replays are rare); normal batches pay nothing.
    for (fp <- graft.ops.IngestOps.committedFingerprint(key, tag)) {
      val cur = fingerprint(batch)
      if (cur == fp) return
      throw new IllegalStateException(s"batch tag '$tag' already " +
        s"committed with different content (stored $fp, arriving " +
        s"$cur) — tags must uniquely identify a batch for the " +
        "loop's lifetime")
    }
    stageBuf.filterInPlace(_._1 != tag)
    driftBuf.filterInPlace(_._1 != tag)
    acceptedInputFiles.filterInPlace(_._1 != tag)
    // QUARANTINE LANE (payload mode): decode compressed blobs ONCE
    // per batch (shared native Inflater per partition), route corrupt
    // payloads into the quarantine artifact under the SAME
    // exactly-once tagged-overwrite discipline as the pack manifest
    // (a redelivery REPLACES the tag's quarantine files), and gate
    // only the cleanly decoded rows. Accounting rows make the
    // reconciliation auditable per batch:
    // 0_incoming == 0a_decoded + 0b_quarantined.
    val decodeStages = payloadCol match {
      case Some(pc) =>
        val decoded = timed("decode ckpt") {
          decodePayloads(batch, pc).localCheckpoint(true) }
        val bad = decoded.filter(col("__err").isNotNull)
          .select(lit(tag).as("batch"), col(idCol),
            col("__err").as("error_class"))
        graft.ops.IngestOps.overwriteTagged(spark, bad,
          quarantineDir.get, tag, 1)
        val ok = decoded.filter(col("__err").isNull)
          .select(col(idCol), col(textCol))
        Some((ok, bad))
      case None => None
    }
    val gateInput = decodeStages.map(_._1).getOrElse(batch)
    val st = timed("gate s1+s2 ckpt") {
      graft.ops.IngestOps.ingestBatch(spark, key, gateInput,
        idCol, textCol, evalGrams, segLen, materializeStages = true)
    }
    // per-batch no-corpus-read audit surface: the files behind the
    // gate's OWN leaf frames (r15 — previously a second, throwaway
    // ingestBatch plan was built and analyzed per batch just to ask
    // its s4 the same question: ~0.35 s of driver planning per batch)
    acceptedInputFiles += ((tag, st.sourceFiles))
    val accepted = timed("s4 ckpt") { st.s4.localCheckpoint(true) }
    // ONE action — and ONE aggregation — for all stage accountings
    // (r14: tagging rows with their stage name and aggregating once
    // replaced ~15 per-stage agg jobs), launched as a FUTURE (r15,
    // guide §2.6) so it overlaps the manifest tokenize and the merge's
    // segment-delta compute below; every input is a pinned checkpoint
    // or the immutable batch source, and the result is joined on the
    // driver thread before anything reads stageBuf. Stages that gated
    // out every row are filled in driver-side as (n=0, s=0).
    val stageNames = Seq("0_incoming" -> batch) ++
      decodeStages.toSeq.flatMap { case (ok, bad) =>
        Seq("0a_decoded" -> ok, "0b_quarantined" -> bad) } ++
      Seq("1_exact" -> st.s1,
        "2_segments" -> st.s2, "3_quality" -> st.s3,
        "4_decon" -> accepted)
    val countedFuture = scala.concurrent.Future {
      stageNames
        .map { case (nm, df) =>
          df.select(lit(nm).as("stage"), col(idCol).cast("long").as("__id"))
        }
        .reduce(_ unionByName _)
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("__id")), lit(0L)).as("s"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }(scala.concurrent.ExecutionContext.global)
    // the merge's segment-delta COMPUTE (pin + count; reads the
    // pre-merge inventory, writes nothing) runs concurrently too —
    // only the ordered inventory writes stay on the critical path
    val segDeltaFuture = scala.concurrent.Future {
      graft.ops.IngestOps.segmentDelta(spark, key, accepted, "clean",
        segLen)
    }(scala.concurrent.ExecutionContext.global)
    // drift metrics run CONCURRENTLY with the pack-manifest and merge
    // jobs below (optimization guide §2.6 — overlap independent jobs):
    // the agg reads only the pinned `accepted` checkpoint, so nothing
    // the later writes mutate can reach it; the buffer append happens
    // on the driver inside the future and is ordered by the Await
    // before the commit marker.
    val driftFuture = for (w <- wp; b <- bpe) yield
        scala.concurrent.Future {
      val pieces = graft.ops.WordPieceOps.encode(col("clean"), w)
      val r = accepted.select(
        size(split(col("clean"), " ")).cast("long").as("__w"),
        size(graft.ops.BpeOps.encode(col("clean"), b)).cast("long")
          .as("__bp"),
        size(pieces).cast("long").as("__wp"),
        (size(pieces) - size(array_remove(pieces, "[UNK]")))
          .cast("long").as("__unk"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("__w")), lit(0L)).as("w"),
          coalesce(sum(col("__bp")), lit(0L)).as("bp"),
          coalesce(sum(col("__wp")), lit(0L)).as("wpn"),
          coalesce(sum(col("__unk")), lit(0L)).as("unk"))
        // rates via Spark's own round(), the exact arithmetic
        // tokenizerDriftStream emits — no driver float re-derivation.
        // Zero denominators (a batch whose every doc was gated out)
        // emit 0.0: under ANSI mode a bare 0/0 ERRORS rather than
        // returning null, so the guard must run before the division
        .select(col("n"), col("w"), col("bp"), col("wpn"), col("unk"),
          when(col("wpn") === 0L, lit(0.0))
            .otherwise(round(col("unk") / col("wpn").cast("double"), 6))
            .as("ur"),
          when(col("w") === 0L, lit(0.0))
            .otherwise(round(col("bp") / col("w").cast("double"), 4))
            .as("bf"))
        .head
      driftBuf += ((tag, r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    }(scala.concurrent.ExecutionContext.global)
    // incremental PACK MANIFEST maintenance: the accepted batch
    // extends the global token stream at the STORED total — a batch
    // of any size appends batch-sized manifest rows without ever
    // re-reading or re-offsetting the corpus's existing manifest.
    // Offsets within the batch come from the scalable exclusive scan
    // (PackOps.withGlobalOffset, arrival order = (batch, doc_id));
    // the cross-batch carry is ONE driver long, recovered from the
    // artifact itself on restart (so a new loop over the same
    // manifest continues where the last one stopped — the same
    // artifact-is-the-state story as the inventories).
    // r15: the BPE tokenize pass — the manifest path's one expensive
    // kernel — is PINNED first (16-byte rows) and built concurrently
    // with the accounting agg above; previously the un-pinned plan ran
    // the full encode TWICE (once inside withGlobalOffset's range
    // sampler, once for its checkpoint), and a third checkpoint job
    // pinned the offset join whose inputs were already pinned.
    val manifestPinFuture = for (b <- bpe; dir <- packManifestDir) yield
      scala.concurrent.Future {
        accepted.select(col(idCol).cast("long").as("doc_id"),
          (size(graft.ops.BpeOps.encode(col("clean"), b)) + 1)
            .cast("long").as("n_tok"))
          .localCheckpoint(true)
      }(scala.concurrent.ExecutionContext.global)
    // A failure below must not leave the batch's other jobs running
    // against the inventory dirs: every future is waited for before
    // processBatch returns or rethrows (the first failure propagates;
    // the others' outcomes are dropped).
    val pending = Seq(countedFuture, segDeltaFuture) ++ driftFuture ++
      manifestPinFuture
    try {
      // join the accounting before anything reads stageBuf
      val counted = timed("await accounting") {
        scala.concurrent.Await.result(countedFuture,
          scala.concurrent.duration.Duration.Inf)
      }
      stageNames.foreach { case (nm, _) =>
        val (n, sm) = counted.getOrElse(nm, (0L, 0L))
        stageBuf += ((tag, nm, n, sm))
      }
      for (dir <- packManifestDir; mF <- manifestPinFuture) timed("manifest") {
        // nAccepted comes from the already-collected stage accounting
        // (the "4_decon" row) — no extra job
        val nAccepted = stageBuf
          .collectFirst { case (`tag`, "4_decon", n, _) => n }.getOrElse(0L)
        // replay of a tag whose previous write crashed mid-window: the
        // recovery base must EXCLUDE the tag's own half-landed rows
        val replay = graft.ops.IngestOps.taggedDeltaExists(dir, tag)
        val base =
          if (replay) packTotalExcluding(dir, tag)
          else packTotalStored(dir)
        if (nAccepted > 0) {
          val m = scala.concurrent.Await.result(mF,
            scala.concurrent.duration.Duration.Inf)
          // the offset scan and everything after it read only the pinned
          // manifest rows; the write replays one broadcast join over
          // them — no third materialization. Partition count derives
          // from the batch's OWN row count (parts = 1 for ordinary
          // batches skips the range sampler's job); the new stored
          // total is the offset scan's own grand total — the old
          // post-write max() aggregate re-derived a number the driver
          // had just finished adding up.
          val (off, batchTokens) = graft.ops.PackOps
            .withGlobalOffsetAndTotal(m, "doc_id", "n_tok", "__off",
              parts = graft.ops.PackOps.partsFor(nAccepted))
          val out = off
            .select(lit(tag).as("batch"), col("doc_id"), col("n_tok"),
              (col("__off") + lit(base)).as("tok_start"))
          // idempotent overwrite-by-tag (see the processBatch scaladoc);
          // delta parallelism scales with the batch row count
          graft.ops.IngestOps.overwriteTagged(spark, out, dir, tag,
            graft.ops.IngestOps.deltaFileCount(nAccepted))
          packTotal = Some(base + batchTokens)
        } else if (replay) {
          // post-merge replay gated to empty: the stored delta rows ARE
          // the truth — keep them; invalidate the cached total so the
          // next batch recovers it from the artifact
          packTotal = None
        } else packTotal = Some(base)
      }
      if (crashAfterManifestWrite)
        throw new IllegalStateException("injected crash (test hook): " +
          "manifest delta written, inventory merge not committed")
      timed("merge") {
        graft.ops.IngestOps.mergeAccepted(spark, key, accepted, "clean",
          segLen, nDocsKnown = stageBuf
            .collectFirst { case (`tag`, "4_decon", n, _) => n },
          segDeltaKnown = Some(scala.concurrent.Await.result(segDeltaFuture,
            scala.concurrent.duration.Duration.Inf)))
      }
      // join the concurrent drift job BEFORE the commit marker: a drift
      // failure leaves the tag uncommitted (exactly the crash window the
      // replay protocol already covers — a committed-artifact replay is
      // a structural no-op), and the report buffer is complete before
      // the method returns.
      timed("await drift") {
        driftFuture.foreach(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
      }
    } finally pending.foreach(f => scala.util.Try(
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)))
    // the atomic commit point: both artifacts are now consistent.
    // The marker stores the INCOMING batch's fingerprint (already in
    // the stage accounting — no extra job) for tag-reuse detection.
    val inFp = stageBuf
      .collectFirst { case (`tag`, "0_incoming", n, s) => s"$n:$s" }
      .getOrElse(fingerprint(batch))
    graft.ops.IngestOps.markCommitted(key, tag, inFp)
    // self-maintenance runs strictly AFTER the commit marker so a
    // compaction can never fold an uncommitted tag's delta into
    // anonymous files (which would blind the tagged overwrite):
    // threshold-triggered rewrite to right-sized files with an atomic
    // swap — rows and offsets untouched, so the stored total cannot
    // move, and a long-running loop never degrades its own gating
    // joins (a metadata-only check until the threshold trips)
    for (dir <- packManifestDir)
      graft.ops.IngestOps.compactDirIfNeeded(spark, dir)
    graft.ops.IngestOps.compactInventoryIfNeeded(spark, key)
  }

  /** Decode one payload batch under the quarantine contract: per-row
    * MAGIC dispatch between the compression formats a real crawl
    * mixes — RFC 1952 gzip member walks and RFC 8878 zstd frame walks
    * (one native Inflater + one zstd context per PARTITION, the
    * [[graft.ops.CompressedOps]] discipline); unknown magic and
    * corrupt streams yield a classed `__err` instead of a dead
    * stage. */
  private def decodePayloads(batch: DataFrame, pc: String): DataFrame = {
    import spark.implicits._
    batch.select(col(idCol).cast("long"), col(pc))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val infl = new java.util.zip.Inflater(true)
        val zctx = new com.github.luben.zstd.ZstdDecompressCtx()
        graft.ops.Multimodal.endOnTaskCompletion { () =>
          infl.end(); zctx.close()
        }
        rows.map { case (id, content) =>
          graft.ops.QuarantineOps.attempt {
            val raw =
              if (content.length >= 2 && (content(0) & 0xff) == 0x1f &&
                  (content(1) & 0xff) == 0x8b)
                graft.ops.CompressedOps.gunzipWith(content, infl)
              else if (content.length >= 4 &&
                  (content(0) & 0xff) == 0x28 &&
                  (content(1) & 0xff) == 0xb5 &&
                  (content(2) & 0xff) == 0x2f &&
                  (content(3) & 0xff) == 0xfd)
                graft.ops.ZstdOps.unzstdWith(content, zctx)
              else throw new IllegalArgumentException(
                "payload: unsupported compression magic")
            new String(raw, java.nio.charset.StandardCharsets.UTF_8)
          } match {
            case Right(txt) => (id, txt, Option.empty[String])
            case Left(cls)  => (id, "", Option(cls))
          }
        }
      }
      .toDF(idCol, textCol, "__err")
  }

  /** The persisted quarantine artifact (batch, doc_id, error_class) —
    * empty frame if the loop ran without payload mode or quarantined
    * nothing. */
  def quarantineReport: DataFrame = quarantineDir match {
    case Some(dir)
        if java.nio.file.Files.exists(java.nio.file.Paths.get(dir)) =>
      StorageOps.parquet(spark, dir)
    case _ =>
      import spark.implicits._
      Seq.empty[(String, Long, String)]
        .toDF("batch", idCol, "error_class")
  }

  /** Content fingerprint of a batch — row count + id sum, the stage-
    * accounting idiom (one bounded agg; computed only on the rare
    * replay/commit paths). */
  private def fingerprint(batch: DataFrame): String = {
    val r = batch.agg(count(lit(1)).as("n"),
      coalesce(sum(col(idCol)), lit(0L)).as("s")).head
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Recovery read for a replayed tag: the stored total over every
    * OTHER batch's manifest rows (the tag's own half-landed delta must
    * not double-bump the base it is about to be rewritten against). */
  private def packTotalExcluding(dir: String, tag: String): Long =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) 0L
    else StorageOps.parquet(spark, dir)
      .filter(col("batch") =!= lit(tag))
      .agg(coalesce(max(col("tok_start") + col("n_tok")), lit(0L)))
      .collect()(0).getLong(0)

  /** The stream's running token total: one driver long, lazily
    * recovered from the persisted manifest (max end offset) so a
    * restarted loop appends at the right base. */
  private var packTotal: Option[Long] = None
  private def packTotalStored(dir: String): Long = packTotal.getOrElse {
    val t =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        StorageOps.parquet(spark, dir)
          .agg(coalesce(max(col("tok_start") + col("n_tok")), lit(0L)))
          .collect()(0).getLong(0)
      else 0L
    packTotal = Some(t)
    t
  }

  /** The persisted incremental pack manifest (empty frame if the loop
    * ran without a `packManifestDir` or accepted nothing). */
  def packManifest: DataFrame = packManifestDir match {
    case Some(dir)
        if java.nio.file.Files.exists(java.nio.file.Paths.get(dir)) =>
      StorageOps.parquet(spark, dir)
    case _ =>
      import spark.implicits._
      Seq.empty[(String, Long, Long, Long)]
        .toDF("batch", "doc_id", "n_tok", "tok_start")
  }

  /** Run the loop as ONE continuous streaming query over `stream`
    * (Trigger.AvailableNow — drains everything available, respecting
    * `maxFilesPerTrigger`, then stops). `tagCol` names each batch from
    * its DATA (e.g. a doc_id residue class), so reports are keyed by
    * content, not by micro-batch numbering; a micro-batch mixing two
    * tags fails loud rather than producing order-dependent output. */
  def start(stream: DataFrame, tagCol: Column,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val tags = df.select(tagCol.cast("string").as("t"))
          .distinct().limit(3).collect().map(_.getString(0)).sorted
        if (tags.nonEmpty) {
          require(tags.length == 1,
            s"micro-batch mixes tags ${tags.mkString(",")} — batch " +
              "boundaries did not follow arrival order")
          processBatch(df, tags.head)
        }
      }
      .start()

  /** Per-(batch, stage) accounting: n_docs + id_sum, the
    * `pipeline_ingest` columns with the batch tag in front. */
  def stageReport: DataFrame = {
    import spark.implicits._
    stageBuf.toSeq.toDF("batch", "stage", "n_docs", "id_sum")
  }

  /** Per-batch tokenizer drift over the ACCEPTED text (empty unless
    * both frozen models were supplied): the [[CorpusIngest
    * .tokenizerDriftStream]] metrics keyed by batch instead of by
    * event-time window. */
  def driftReport: DataFrame = {
    import spark.implicits._
    driftBuf.toSeq.toDF("batch", "n_docs", "n_words", "n_bpe_pieces",
      "n_wp_pieces", "n_unk", "unk_rate", "bpe_fertility")
  }
}
