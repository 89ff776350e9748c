package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** PERSISTED incremental-ingest inventories — the artifact flow that
  * makes per-batch ingest cost BATCH-sized instead of corpus-sized.
  *
  * `pipeline_ingest` (the oracle-replayed composition) derives the
  * corpus's doc-md5 set and 16-token segment inventory from the full
  * corpus text on every batch. At 100 TB that is a full-corpus scan
  * per arriving shard. This object persists both inventories ONCE
  * (parquet in the [[StorageOps.artifactPath]] store) and MERGES each
  * accepted batch in, so batch N+1 reads
  * only (a) the batch itself and (b) the hash-compact inventories —
  * never stored corpus text (IngestOpsSpec gates `inputFiles` of the
  * second batch's plan against the corpus source path).
  *
  * Inventory contents are derived from the STORED corpus text (what
  * acceptance appends is the batch's cleaned text, so the inventories
  * stay exactly `f(stored corpus)` after every merge — the
  * merged-vs-recomputed equality gate):
  *  - `md5/`: one `h` (hex md5 of the stored text) per doc;
  *  - `seg/`: per distinct 16-token segment string, `sh` (md5 — what
  *    the batch excision anti-joins and the DuckDB oracle replays), over
  *    the same tiling as [[DedupOps.segmentDedup]].
  *
  * Scale shape: every join against an inventory moves 16-byte hashes;
  * the merge appends batch-sized parquet files (hash-only, anti-joined
  * so the inventory stays a set).
  */
object IngestOps {

  private[graft] def invRoot(key: String): String =
    StorageOps.scratchPath(s"inv_$key")

  private def md5Dir(key: String): String = s"${invRoot(key)}/md5"
  private def segDir(key: String): String = s"${invRoot(key)}/seg"

  /** The 16-token tiling shared with [[DedupOps.segmentDedup]]
    * ([[DedupOps.segmentText]] over lowercased whitespace tokens). One
    * row per segment: the `keep` columns, the segment's position
    * `seg_idx` and its text `seg`. */
  private def segmentRows(docs: DataFrame, keep: Seq[String],
      textCol: String, segLen: Int): DataFrame = {
    val nSegs = DedupOps.segmentCount(col("__w"), segLen).cast("int")
    docs
      .select(keep.map(col) :+ DedupOps.tokens(col(textCol)).as("__w"): _*)
      .select(keep.map(col) :+
        posexplode(transform(sequence(lit(0), nSegs - 1),
          DedupOps.segmentText(col("__w"), segLen)))
          .as(Seq("seg_idx", "seg")): _*)
  }

  /** Distinct word 3-gram strings `g` of a document set
    * ([[DedupOps.wordShingles]] over lowercased tokens; a text of fewer
    * than three tokens is its own single gram) — the `evalGrams` side
    * of the decontamination stage. */
  def gramSet(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(array_distinct(DedupOps.wordShingles(
      DedupOps.tokens(col(textCol)), 3))).as("g"))
      .distinct()

  /** Distinct doc-text md5s of a corpus — the stage-1 inventory. */
  def docMd5s(docs: DataFrame, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("h")).distinct()

  /** Distinct segment md5s (`sh`) of a corpus — the stage-2 inventory,
    * for the exact excision anti-join and oracle replay. */
  def docSegments(docs: DataFrame, textCol: String,
      segLen: Int = 16): DataFrame =
    segmentRows(docs, Nil, textCol, segLen)
      .select(md5(col("seg")).as("sh"))
      .distinct()

  /** Build and publish ([[StorageOps.publish]]) the inventory for a
    * stored corpus under `key`; a no-op when it exists. */
  def buildInventory(spark: SparkSession, key: String, corpus: DataFrame,
      textCol: String, segLen: Int = 16): Unit =
    StorageOps.publish(invRoot(key)) { tmp =>
      docMd5s(corpus, textCol).write.mode("overwrite").parquet(s"$tmp/md5")
      docSegments(corpus, textCol, segLen)
        .write.mode("overwrite").parquet(s"$tmp/seg")
    }

  /** [[buildInventory]] under an artifact key of the source path (plus
    * a caller tag for slices of the same path); returns the key. */
  def cachedInventory(spark: SparkSession, srcPath: String, tag: String,
      corpus: DataFrame, textCol: String, segLen: Int = 16): String = {
    val key = StorageOps.artifactKey(spark, srcPath, s"${tag}_$segLen")
    buildInventory(spark, key, corpus, textCol, segLen)
    key
  }

  /** Delete a persisted inventory — for PER-RUN keys whose merged
    * state is garbage once the run ends (the `pipeline_ingest_stream`
    * loop builds a fresh inventory per run because it mutates it).
    * Content-signature-keyed inventories are left alone: they are
    * pure functions of their corpus and cache across runs. */
  def dropInventory(key: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(invRoot(key)))

  /** Copy a persisted inventory to a new PER-RUN key — the cheap way
    * to hand a MUTATING consumer (the streaming ingest loop merges
    * into its inventory) a private copy: the immutable base builds
    * once per corpus bytes via [[cachedInventory]], and each run pays
    * a hash-file directory copy instead of a corpus re-derivation. */
  def cloneInventory(srcKey: String, dstKey: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(invRoot(srcKey)), new java.io.File(invRoot(dstKey)))

  private def parquetCount(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.exists()) 0
    else d.listFiles().count(_.getName.endsWith(".parquet"))
  }

  /** Content-preserving compact-and-swap of ONE append-accumulating
    * parquet dir when its file count passes `maxFiles`:
    * [[StorageOps.compact]] through [[StorageOps.swapInPlace]].
    * Returns whether a compaction ran. The shared primitive behind
    * [[compactInventoryIfNeeded]] and the ingest loop's pack-manifest
    * maintenance. */
  def compactDirIfNeeded(spark: SparkSession, dir: String,
      maxFiles: Int = 16,
      targetFileBytes: Long = 128L * 1024 * 1024): Boolean = {
    val n = parquetCount(dir)
    val needs = n > 0 && n > maxFiles
    if (needs) StorageOps.swapInPlace(dir)(tmp =>
      StorageOps.compact(spark, dir, tmp, targetFileBytes))
    needs
  }

  /** Threshold-triggered inventory compaction for an
    * append-accumulating artifact: every [[mergeAccepted]] lands
    * batch-sized parquet files under `md5/` and `seg/`, and a
    * long-running ingest loop degrades its own gating joins through
    * file-listing/open cost. When either subdir exceeds
    * `maxFiles`, both rewrite to byte-derived right-sized files
    * ([[StorageOps.compact]]) and swap in atomically — content is
    * untouched (set-equality spec-gated), so gating results cannot
    * move. Metadata-only check when under threshold. Returns whether a compaction ran. */
  def compactInventoryIfNeeded(spark: SparkSession, key: String,
      maxFiles: Int = 16,
      targetFileBytes: Long = 128L * 1024 * 1024): Boolean = {
    val needs = parquetCount(md5Dir(key)) > maxFiles ||
      parquetCount(segDir(key)) > maxFiles
    if (needs) Seq(md5Dir(key), segDir(key)).foreach { dir =>
      compactDirIfNeeded(spark, dir, maxFiles = -1,
        targetFileBytes = targetFileBytes)
    }
    needs
  }

  // ---- exactly-once batch commit protocol --------------------------
  //
  // foreachBatch is at-least-once: a crash between the loop's two
  // artifact writes (pack-manifest delta, inventory merge) re-delivers
  // the batch. Three pieces make the replay exactly-once:
  //  1. the manifest delta is written via [[overwriteTagged]] — the
  //     tag's previous files are REPLACED, never appended to, so a
  //     crashed-after-manifest replay rewrites identical rows instead
  //     of duplicating them;
  //  2. the inventory merge is idempotent by construction (anti-joined
  //     novel-hash deltas — a re-merge of already-merged text appends
  //     nothing);
  //  3. a per-tag COMMIT MARKER ([[markCommitted]]) is created only
  //     after both writes succeed; a re-delivery of a marked tag is a
  //     structural no-op ([[batchCommitted]] checked at entry).
  // Compaction of the manifest dir must run only AFTER the marker
  // (the loop orders it so): folding an uncommitted tag's delta into
  // anonymous files would make the tagged overwrite blind to it.

  /** Filesystem-safe deterministic token for a batch tag (tags come
    * from DATA via the loop's `tagCol` and may contain anything). */
  private[graft] def tagToken(tag: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString

  private def commitsDir(key: String): String = s"${invRoot(key)}/commits"

  /** Whether `tag`'s batch fully committed (manifest delta AND
    * inventory merge landed) — the exactly-once replay guard. */
  def batchCommitted(key: String, tag: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${commitsDir(key)}/${tagToken(tag)}"))

  /** The committed batch's content fingerprint (what [[markCommitted]]
    * stored), or None if the tag never committed. Lets the replay
    * guard distinguish a true REDELIVERY (same rows — skip) from a
    * NEW batch that illegally reuses a committed tag (fail loud:
    * silently skipping it would drop data, silently processing it
    * would overwrite the tag's manifest delta). */
  def committedFingerprint(key: String, tag: String): Option[String] = {
    val p = java.nio.file.Paths.get(
      s"${commitsDir(key)}/${tagToken(tag)}")
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Atomically record `tag` as committed, storing the batch's
    * content `fingerprint` (row count + id sum — the accounting
    * idiom) so a later tag REUSE is detectable. File creation is the
    * atomic commit point; a concurrent loser keeps the winner's
    * bytes. */
  def markCommitted(key: String, tag: String,
      fingerprint: String = ""): Unit = {
    val dir = java.nio.file.Paths.get(commitsDir(key))
    java.nio.file.Files.createDirectories(dir)
    try java.nio.file.Files.write(dir.resolve(tagToken(tag)),
      fingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    ()
  }

  /** Test hook: remove a commit marker — simulates a crash that
    * landed both artifact writes but died before [[markCommitted]]
    * (the narrowest replay window; CorpusIngestSpec exercises it). */
  private[graft] def unmarkCommitted(key: String, tag: String): Unit = {
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      s"${commitsDir(key)}/${tagToken(tag)}"))
    ()
  }

  /** File count for a delta write: 1 file per `rowsPerFile` rows.
    * Replaces the old hard `coalesce(1)` — one file is still the
    * answer for ordinary batches (shuffle-parallel writes would grow
    * the artifact's file count 32× faster for no read-side benefit),
    * but a 10⁸-row batch must not funnel ~2.4 GB through one task. */
  def deltaFileCount(rows: Long, rowsPerFile: Long = 4000000L): Int = {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1 ($rowsPerFile)")
    math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
  }

  /** Whether a previous (possibly crashed) write for `tag` left delta
    * files in `dir` — the replay-detection probe for recovery reads. */
  def taggedDeltaExists(dir: String, tag: String): Boolean = {
    val d = new java.io.File(dir)
    val p = s"tag-${tagToken(tag)}-"
    d.exists() && d.listFiles().exists(_.getName.startsWith(p))
  }

  /** Idempotent tagged delta write into a FLAT parquet dir: `df` lands
    * as files named `tag-<token>-*`, REPLACING any files this tag
    * wrote before (a foreachBatch redelivery after a crash overwrites
    * its own half-landed delta instead of appending a duplicate). The
    * dir stays flat, so plain parquet reads of `dir` and
    * [[compactDirIfNeeded]] keep working unchanged. The write goes to
    * a temp sibling first; a crash leaves the old delta, no delta,
    * the new delta, or (multi-file deltas only: a crash mid-move) a
    * PARTIAL new delta — never old and new together. A partial delta
    * heals on the tag's redelivery (the next write replaces it), so
    * the in-flight tag must be re-offered before any NEW batch runs:
    * the streaming checkpoint guarantees exactly that, and direct
    * batch-twin callers must re-run a crashed batch before
    * continuing (the loop's recovery base already excludes the
    * in-flight tag's rows either way). */
  def overwriteTagged(spark: SparkSession, df: DataFrame, dir: String,
      tag: String, nFiles: Int): Unit = {
    val tok = tagToken(tag)
    val d = new java.io.File(dir)
    val parent = d.getParentFile
    // clear crashed temp dirs from earlier attempts at this tag
    Option(parent.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith(s"${d.getName}.delta-$tok-"))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    val tmp =
      s"$dir.delta-$tok-${java.util.UUID.randomUUID().toString.take(8)}"
    df.coalesce(nFiles).write.mode("overwrite").parquet(tmp)
    java.nio.file.Files.createDirectories(d.toPath)
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(s"tag-$tok-")).foreach(_.delete())
    new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/tag-$tok-${f.getName}"))
      }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  // Each merge lands a new inventory version, so a read that inferred
  // the schema would run a footer-reading job per version; the one
  // column of each side is fixed by docMd5s and docSegments.
  private def hashColumn(name: String) =
    Some(new StructType().add(name, StringType))

  def inventoryMd5s(spark: SparkSession, key: String): DataFrame =
    StorageOps.parquet(spark, md5Dir(key), hashColumn("h"))

  def inventorySegments(spark: SparkSession, key: String): DataFrame =
    StorageOps.parquet(spark, segDir(key), hashColumn("sh"))

  /** The four stages of one ingest batch. `sourceFiles` lists the
    * files behind every frame composed into them — the batch, both
    * inventories and `evalGrams` — so it is the per-batch
    * no-corpus-text-read audit surface without planning `s4` again. */
  case class IngestStages(s1: DataFrame, s2: DataFrame, s3: DataFrame,
      s4: DataFrame, sourceFiles: Array[String] = Array.empty)

  /** [[gateBatch]] against the PERSISTED inventory under `key`: every
    * corpus-derived side is read from hash-compact parquet instead of
    * recomputed from corpus text. */
  def ingestBatch(spark: SparkSession, key: String, batch: DataFrame,
      idCol: String, textCol: String, evalGrams: Option[DataFrame] = None,
      segLen: Int = 16, materializeStages: Boolean = false): IngestStages =
    gateBatch(batch, inventoryMd5s(spark, key), inventorySegments(spark, key),
      idCol, textCol, evalGrams, segLen, materializeStages)

  /** The four-stage ingest gate against two hash sets of the stored
    * corpus: `md5s` (column `h`, see [[docMd5s]]) and `segments`
    * (column `sh`, see [[docSegments]]). s1 = in-batch first-occurrence
    * dedup + anti-join vs `md5s`; s2 = segment excision vs `segments`
    * (fully-excised docs drop); s3 = quality band on the cleaned text;
    * s4 = optional n-gram decontamination against `evalGrams` (a
    * one-column frame of gram strings `g`, see [[gramSet]]).
    *
    * `materializeStages = true` localCheckpoints s2 so later stages and
    * per-stage accounting actions reuse it instead of re-deriving the
    * gating chain per action. s1 stays lazy: its one in-plan consumer
    * is the segment explode, so it fuses into s2's checkpoint job, and
    * an accounting branch re-deriving it pays one batch-sized window
    * pass. The lazy default keeps the full lineage visible for
    * `inputFiles` plan gates. */
  def gateBatch(batch: DataFrame, md5s: DataFrame, segments: DataFrame,
      idCol: String, textCol: String, evalGrams: Option[DataFrame] = None,
      segLen: Int = 16, materializeStages: Boolean = false): IngestStages = {
    def mat(df: DataFrame): DataFrame =
      if (materializeStages) df.localCheckpoint(true) else df
    // stage 1: exact dedup (in-batch first-wins + corpus md5 set)
    val wH = Window.partitionBy(col("h")).orderBy(col(idCol))
    val s1 = batch.withColumn("h", md5(col(textCol)))
      .withColumn("rn", row_number().over(wH))
      .filter(col("rn") === 1)
      .join(md5s, Seq("h"), "left_anti")
      .select(col(idCol), col(textCol))
    // stage 2: segment excision vs the corpus segment set. Each
    // exploded segment row carries its own text slice, so the clean
    // text reassembles inside the same aggregation that keeps the
    // novel segments — no join back to s1.
    val segRows = segmentRows(s1, Seq(idCol), textCol, segLen)
      .withColumn("sh", md5(col("seg")))
    val s2 = mat(segRows
      .join(segments.select(col("sh")),
        Seq("sh"), "left_anti") // docs with no novel segment drop here
      .groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("seg_idx"), col("seg")))),
        x => x.getField("seg")), " ").as("clean"))
      .filter(col("clean") =!= ""))
    // stage 3: quality band on the cleaned text
    val s3 = s2
      .withColumn("n_tok", size(split(col("clean"), " ")))
      .withColumn("n_ch", length(regexp_replace(col("clean"), " ", "")))
      .filter(col("n_tok") >= 24 &&
        col("n_ch") * lit(10) >= col("n_tok") * lit(20) &&
        col("n_ch") * lit(10) <= col("n_tok") * lit(100))
      .select(col(idCol), col("clean"))
    // stage 4: decontamination (>= 3 distinct shared 3-grams drop)
    val s4 = evalGrams match {
      case None => s3
      case Some(eg) =>
        // NOT fanned out (measured r15): redistributing the clean text
        // ahead of the gram explode pushed batch taskSums 2.5 s → 9-11 s
        // (32 tiny tasks per per-batch stage) for zero wall win — the
        // r14 rejected-fan-out rule holds for every per-batch stage
        val hot = s3
          .select(col(idCol),
            explode(array_distinct(DedupOps.wordShingles(
              DedupOps.tokens(col("clean")), 3))).as("g"))
          .join(eg, Seq("g"))
          .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
        s3.join(hot, Seq(idCol), "left_anti")
    }
    IngestStages(s1, s2, s3, s4,
      (Seq(batch, md5s, segments) ++ evalGrams).flatMap(_.inputFiles)
        .distinct.toArray)
  }

  /** The merge's segment-side delta, PINNED, plus its row count — the
    * pure COMPUTE half of [[mergeAccepted]] (reads the pre-merge
    * inventory, mutates nothing), split out (r15) so the loop can run
    * it concurrently with the accounting/manifest jobs and hand the
    * result to [[mergeAccepted]] via `segDeltaKnown`; only the ordered
    * WRITES stay on the critical path. */
  def segmentDelta(spark: SparkSession, key: String, accepted: DataFrame,
      textCol: String, segLen: Int = 16): (DataFrame, Long) = {
    val d = docSegments(accepted, textCol, segLen)
      .join(inventorySegments(spark, key).select(col("sh")),
        Seq("sh"), "left_anti")
      .localCheckpoint(true)
    (d, d.count())
  }

  /** MERGE an accepted batch (its FINAL stored text) into the
    * inventory: append the batch's doc md5s and its inventory-novel
    * segment hashes as batch-sized parquet files. The anti-join keeps
    * the segment inventory a SET (the reassembled clean text re-tiles,
    * so a batch segment can coincide with a stored one); the md5 side
    * is novel by construction (stage 1 anti-joined it) but is
    * anti-joined too so a caller merging anything else stays safe. */
  def mergeAccepted(spark: SparkSession, key: String, accepted: DataFrame,
      textCol: String, segLen: Int = 16,
      rowsPerFile: Long = 4000000L,
      nDocsKnown: Option[Long] = None,
      segDeltaKnown: Option[(DataFrame, Long)] = None): Unit = {
    // delta parallelism scales with the delta's ROW COUNT
    // ([[deltaFileCount]]): one file for ordinary batches (writing at
    // shuffle parallelism would grow the inventory's file count 32x
    // faster for no read-side benefit — see compactInventoryIfNeeded
    // for the long-run story), more when a huge batch would otherwise
    // funnel through a single write task. The segment delta is
    // checkpointed so the count and the write share one computation
    // of the anti-join (hash-compact rows, ~24 B each).
    // the loop already collected the accepted count in its stage
    // accounting — reuse it instead of paying one more count job per
    // batch (callers without the count pass None and pay it here)
    val nDocs = nDocsKnown.getOrElse(accepted.count())
    if (nDocs == 0) return
    // WRITE ORDER MATTERS for the crash story: segments FIRST, md5s
    // second. A crash between the two writes redelivers the batch
    // (the loop's marker never landed); under seg-first, the replay's
    // stage-1 gate still passes (md5s absent) but stage 2 excises the
    // accepted text against the just-merged segments, so the docs
    // drop harmlessly — and any future doc sharing their content is
    // still excised (segments present) or exact-rejected-by-excision
    // (identical text ⇒ identical segments ⇒ fully excised). The
    // opposite order would lose the batch's SEGMENT rows forever:
    // the replay dies at stage 1 (md5s present), never re-offers the
    // text, and future near-dups sharing those segments would pass
    // excision — stored duplicate content.
    val (segDelta, segRows) =
      segDeltaKnown.getOrElse(segmentDelta(spark, key, accepted,
        textCol, segLen))
    segDelta
      .coalesce(deltaFileCount(segRows, rowsPerFile))
      .write.mode("append").parquet(segDir(key))
    if (crashBetweenMergeWrites)
      throw new IllegalStateException("injected crash (test hook): " +
        "segment delta merged, md5 delta not yet written")
    docMd5s(accepted, textCol)
      .join(inventoryMd5s(spark, key), Seq("h"), "left_anti")
      .coalesce(deltaFileCount(nDocs, rowsPerFile))
      .write.mode("append").parquet(md5Dir(key))
  }

  /** Test hook: throw between [[mergeAccepted]]'s two inventory
    * writes — the intra-merge crash window whose benign degradation
    * (seg-first order) CorpusIngestSpec proves. */
  private[graft] var crashBetweenMergeWrites = false
}
