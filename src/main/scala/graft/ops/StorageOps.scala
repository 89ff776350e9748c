package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Sink-side operators: partitioned and bucketed parquet layout.
  *
  * The reference's only sink is stringify-to-CSV
  * (`RecordBatch::to_csv`, reference src/datatypes/mod.rs:308-328);
  * real 100-TB tables live as partitioned/bucketed parquet so that
  *  - partition pruning turns predicates on the partition column into
  *    directory listings instead of data reads (`PartitionFilters` in
  *    the scan node), and
  *  - bucketing on a join/agg key makes downstream joins co-located
  *    (no shuffle on the bucketed key).
  */
object StorageOps {

  // ------------------------------------------------------------------
  // Parquet sources
  // ------------------------------------------------------------------

  /** Open the parquet dataset at `path` — the one way graft reads
    * parquet. A plain `spark.read.parquet` lists the files and runs a
    * footer-reading schema-inference job before any query work; here
    * that happens once per session and source version:
    *  - Cached: the resolved relation only — schema and file listing.
    *    No data is cached; every query still scans every byte it
    *    needs, and filter/projection pushdown is unchanged.
    *  - Key: the path plus its [[contentSignature]] (name, length and
    *    mtime of every file), so a rewritten source re-resolves; the old
    *    version's entry is never served again and ages out of the LRU.
    *  - Fresh ids: each load is `newInstance()` of the cached relation,
    *    so self-joins and `df("col")` references behave exactly as with
    *    two independent reads.
    *  - Scope: entries live in the session's own LRU-bounded table
    *    relation cache, so another session never sees them, they die
    *    with their session, and an eviction only costs a re-resolve.
    * A missing path fails exactly as `spark.read.parquet` does. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val sig = try contentSignature(spark, path) catch {
      case _: java.io.FileNotFoundException => return spark.read.parquet(path)
    }
    val cache = spark.sessionState.catalog
    val key = QualifiedTableName("graft", "parquet_source",
      s"$path#${java.lang.Long.toHexString(sig)}")
    cache.getCachedTable(key) match {
      case r: MultiInstanceRelation =>
        DatasetBridge.ofRows(spark, r.newInstance())
      case _ =>
        val df = spark.read.parquet(path)
        cache.cacheTable(key, df.queryExecution.analyzed)
        df
    }
  }

  // ------------------------------------------------------------------
  // Derived artifacts
  // ------------------------------------------------------------------

  /** ARTIFACT POLICY — the one place that decides how a derived
    * artifact (a trained model, a bloom filter, an ingest inventory,
    * an index layout, a suffix array, a derived dataset) is stored,
    * keyed, published and reused. Every `cached*` operator and every
    * persisted layout goes through the functions below:
    *  - Root: artifacts live under [[scratchPath]], a per-user 0700
    *    directory. A predictable name under the shared /tmp would let
    *    another local user read artifacts or pre-plant one the
    *    framework then trusts; the root's mode closes that for every
    *    artifact beneath it.
    *  - Key: [[artifactPath]] is the caller's name (which carries the
    *    build parameters), the one [[ArtifactVersion]] and the source
    *    path's [[contentSignature]]. Regenerated source bytes, changed
    *    parameters or a version bump each land on a new path, so a
    *    stale artifact can never be served.
    *  - Publish: [[publish]] builds into a temp sibling and renames it
    *    into place atomically, so a crashed or failed builder leaves
    *    nothing that `exists()` would trust, and no temp behind.
    *    [[cachedRows]] is the same publish for line-encoded models.
    *  - Races: two builders of one key produce equivalent bytes
    *    (artifacts are pure functions of their key), so it does not
    *    matter whose copy serves: a rename that fails because another
    *    copy is already in place drops ours. A failed rename with no
    *    copy in place is a real error and propagates.
    *  - Swap: [[swapInPlace]] rewrites a mutable artifact (a
    *    compacted index or inventory) with restore-on-failure.
    * Bumping [[ArtifactVersion]] rebuilds every artifact once. */
  private[graft] val ArtifactVersion = "v2"

  /** The per-user 0700 scratch root, with `name` appended. */
  def scratchPath(name: String): String = {
    val root = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft-scratch-${sys.props("user.name")}")
    try {
      import java.nio.file.attribute.PosixFilePermissions
      java.nio.file.Files.createDirectories(root,
        PosixFilePermissions.asFileAttribute(
          PosixFilePermissions.fromString("rwx------")))
      // createDirectories ignores the attribute when the dir already
      // exists — re-assert so a pre-existing open dir is closed too
      java.nio.file.Files.setPosixFilePermissions(root,
        PosixFilePermissions.fromString("rwx------"))
    } catch { case _: UnsupportedOperationException =>
      java.nio.file.Files.createDirectories(root) // non-POSIX FS
    }
    s"$root/$name"
  }

  /** The file name an artifact built from `srcPath` lives under (see
    * the policy above); [[artifactPath]] is its full path. */
  private[graft] def artifactKey(spark: SparkSession, srcPath: String,
      name: String): String =
    s"${name}_${ArtifactVersion}_" +
      java.lang.Long.toHexString(contentSignature(spark, srcPath))

  def artifactPath(spark: SparkSession, srcPath: String,
      name: String): String =
    scratchPath(artifactKey(spark, srcPath, name))

  /** Materialize the artifact at `path` exactly once: `write` fills a
    * temp sibling, which is renamed into place atomically. A throwing
    * writer leaves neither the target nor the temp behind. */
  def publish(path: String)(write: String => Unit): Unit = {
    val target = Paths.get(path)
    if (Files.exists(target)) return
    val tmp = s"$path.tmp-${java.util.UUID.randomUUID()}"
    try {
      write(tmp)
      try Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException if Files.exists(target) => }
    } finally FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** A line-encoded artifact (a model's rows) built from `srcPath`:
    * the stored rows, or — on a miss — `build`'s rows, published and
    * read back. Callers decode the result on both paths, so a cached
    * model and a fresh one come from the same decoder. */
  def cachedRows(spark: SparkSession, srcPath: String, name: String)(
      build: => Seq[String]): Seq[String] = {
    val path = artifactPath(spark, srcPath, name) + ".txt"
    publish(path)(tmp =>
      Files.write(Paths.get(tmp), build.mkString("\n").getBytes(UTF_8)))
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).split("\n").toSeq
  }

  /** Replace the directory at `path` in place with what `write` puts
    * in a temp sibling: rename old out, rename new in, and rename old
    * back if that fails. A failed `write` leaves `path` untouched and
    * no temp behind. */
  def swapInPlace(path: String)(write: String => Unit): Unit = {
    val run = java.util.UUID.randomUUID().toString
    val (cur, tmp, old) =
      (Paths.get(path), Paths.get(s"$path.compact-$run"),
        Paths.get(s"$path.old-$run"))
    try {
      write(tmp.toString)
      Files.move(cur, old, StandardCopyOption.ATOMIC_MOVE)
      try Files.move(tmp, cur, StandardCopyOption.ATOMIC_MOVE)
      catch { case e: Throwable =>
        Files.move(old, cur, StandardCopyOption.ATOMIC_MOVE)
        throw e
      }
      FileUtils.deleteDirectory(old.toFile)
    } finally FileUtils.deleteQuietly(tmp.toFile)
  }

  /** SIZE-GATED kernel-input redistribution (optimization guide §2.5,
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"): CPU-heavy per-row kernels (image codecs, shingle
    * md5 passes, tokenizer encodes) are bottlenecked not by bytes but
    * by compute-per-byte, and a scan whose natural split count is below
    * the cluster's core count serializes them — a single-row-group
    * parquet file cannot be split at all, so a small input runs the
    * whole kernel on ONE task regardless of `maxPartitionBytes`.
    *
    * The gate is scale-adaptive, not a local[32] constant: redistribute
    * only when the OPTIMIZER'S SIZE ESTIMATE of the input says the scan
    * cannot produce at least `defaultParallelism` full splits (i.e.
    * bytes < cores × maxPartitionBytes). At 100 TB the estimate is
    * orders of magnitude past the gate and the plan is untouched — the
    * scan's own splits carry the parallelism, and no payload ever
    * shuffles (the dedup-family discipline holds at scale by
    * construction). Below the gate the redistribution moves exactly the
    * kernel's projected input once, which is bounded by the gate itself
    * (cores × 128 MB), and buys core-count parallelism for the kernel.
    *
    * Round-robin repartition keeps Spark's sort-before-repartition
    * determinism; every downstream operator in this codebase is
    * shuffle-order-safe by the dsum/row-local discipline (hash-gated by
    * the DuckDB oracle), so the redistribution cannot move any result. */
  /** The shared size gate (r15, one definition — the two fan-out
    * helpers previously duplicated it): fire only when BOTH the
    * optimizer's estimate of `df` AND the sum of its LEAF relations'
    * estimates are under cores × maxPartitionBytes. The leaf check is
    * the mis-estimate guard: a derived frame behind a selective filter
    * or join can carry a tiny post-selectivity estimate while its scan
    * still reads terabytes — and a round-robin repartition of that
    * output could shuffle a corpus. Leaf estimates are file sizes
    * (scans) or materialized-plan stats (checkpoints), the reliable
    * upper bound of anything derived from them, so above the gate the
    * plan is untouched no matter how wrong the selectivity guess is. */
  private def underFanOutGate(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val maxPart = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val plan = df.queryExecution.optimizedPlan
    val bytes = plan.stats.sizeInBytes
    val leafBytes = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    par > 1 && bytes.max(leafBytes) < maxPart * par
  }

  def fanOutForKernel(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (underFanOutGate(df)) df.repartition(par) else df
  }

  /** [[fanOutForKernel]]'s KEYED sibling for aggregation/window
    * consumers: size-gated `repartition(defaultParallelism, keys)`.
    *
    * Why it exists: a clustered consumer (session/window aggregation,
    * sort-within-group) downstream of a small scan gets its exchange
    * COALESCED BY AQE to one or two partitions — correct for shuffle
    * bytes, wrong for a compute-heavy consumer, which then runs
    * serialized. An explicit keyed repartition is exempt from AQE
    * coalescing (user-specified partition counts are preserved), and
    * because it already satisfies the consumer's clustered
    * distribution the consumer plans NO second exchange: the same
    * rows move once either way, but the group compute runs at core
    * count. Same size gate and scale story as [[fanOutForKernel]]:
    * above the gate the plan is untouched and AQE's coalescing is the
    * right behavior. Grouping results are partitioning-independent
    * (hash partitioning keeps a key's rows together), so results
    * cannot move. */
  def fanOutForKey(df: DataFrame, keys: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (underFanOutGate(df)) df.repartition(par, keys: _*)
    else df
  }

  /** Write `df` as a bucketed+sorted managed table (bucket pruning and
    * shuffle-free joins on `bucketCol` for any reader of the table). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order clustered parquet write: normalize `colA`/`colB` to 16
    * bits against their global min/max (one metadata-sized stats pass),
    * interleave into a 32-bit Morton code (codegen'd
    * [[graft.functions.ZOrderValue]]), range-partition + sort by it,
    * and write `nFiles` files. Each file then covers a compact z-range
    * — roughly a sqrt(1/nFiles) slice of EACH dimension — so parquet
    * min/max stats let scans skip files/row-groups for predicates on
    * EITHER column. A single-column sort gets ~1/nFiles on that column
    * but no locality on the other; this is the standard multi-dimension
    * data-skipping layout for 100-TB fact tables (two metadata jobs +
    * one range-shuffle write, no driver-side data movement;
    * repartitionByRange samples the z-values so output files are
    * row-balanced even when the value distribution is skewed). */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int): Unit =
    clusteredWrite(df, path, colA, colB, nFiles,
      graft.functions.HashFunctions.zorderValue)

  /** Hilbert-clustered write — identical normalize/range-partition
    * front as [[zorderWrite]], but the clustering key is the Hilbert
    * distance ([[graft.functions.HilbertValue]]): consecutive key
    * values are grid-ADJACENT (no Morton quadrant jumps), so each
    * file's x/y bounding box is equal or tighter at the same write
    * cost — measured against z-order in HilbertSpec. */
  def hilbertWrite(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int): Unit =
    clusteredWrite(df, path, colA, colB, nFiles,
      graft.functions.HashFunctions.hilbertValue)

  private def clusteredWrite(df: DataFrame, path: String, colA: String,
      colB: String, nFiles: Int,
      key: (Column, Column) => Column): Unit = {
    val s = df.agg(
      min(col(colA)).cast("double").as("mna"),
      max(col(colA)).cast("double").as("mxa"),
      min(col(colB)).cast("double").as("mnb"),
      max(col(colB)).cast("double").as("mxb")).head()
    // empty input or an all-null cluster column has null min/max —
    // getDouble would NPE with no useful message; constant-normalize
    // that dimension instead (every row lands in one z-slice, which is
    // the only correct layout for a column with no value spread)
    def stat(i: Int): Double = if (s.isNullAt(i)) 0.0 else s.getDouble(i)
    def norm(c: String, mn: Double, mx: Double) =
      if (!(mx > mn)) lit(0L)
      else least(lit(65535L), greatest(lit(0L),
        (((coalesce(col(c).cast("double"), lit(mn)) - mn) / (mx - mn))
          * 65535.0).cast("long")))
    val z = key(
      norm(colA, stat(0), stat(1)),
      norm(colB, stat(2), stat(3)))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a parquet dataset to ~`targetFileBytes` files — the
    * small-files fix: a 100-TB table accumulated from micro-batches or
    * over-parallel writes degrades every scan (listing + open cost per
    * file, tiny row groups defeat min/max skipping); periodic rewrite
    * into right-sized files restores scan throughput. File count is
    * derived from the actual on-disk byte size, not row counts — sized
    * through the Hadoop FileSystem API, so the same code is correct on
    * file:, hdfs: and s3a: URIs (inputFiles returns URI-encoded
    * strings; a java.io.File of those silently reports length 0, which
    * would collapse the whole dataset into one file). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(outPath != inPath, "compact to a new location, then swap")
    parquet(spark, inPath)
      .repartition(compactedFileCount(spark, inPath, targetFileBytes))
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** [[compact]]'s output file count: the dataset's on-disk bytes over
    * `targetFileBytes`, rounded up, at least one. The bytes come from
    * one Hadoop FileSystem listing (no Spark job), skipping the
    * `_`/`.`-prefixed names a parquet scan skips too (`_SUCCESS`,
    * `.crc`, staging dirs); `k=v` partition dirs are data. */
  private[graft] def compactedFileCount(spark: SparkSession, path: String,
      targetFileBytes: Long): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def bytes(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).iterator.filterNot(st => hidden(st.getPath.getName))
        .map(st => if (st.isDirectory) bytes(st.getPath) else st.getLen).sum
    val totalBytes = bytes(root)
    math.max(1, (totalBytes / targetFileBytes).toInt +
      (if (totalBytes % targetFileBytes > 0) 1 else 0))
  }

  /** CDC-style upsert (MERGE): rows of `updates` replace base rows
    * with the same `key`; unmatched update keys append; unmatched base
    * rows persist. The snapshot-compaction primitive for a parquet
    * lake without a table format: implemented as one full-outer join
    * on the key (a single co-keyed shuffle at any scale) with
    * column-wise coalesce, updates winning. Both sides must share the
    * schema. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    require(base.columns.sameElements(updates.columns),
      s"upsert needs identical schemas (base ${base.columns.mkString(",")} " +
        s"vs updates ${updates.columns.mkString(",")})")
    val b = base.alias("b")
    val u = updates.alias("u")
    b.join(u, col(s"b.$key") === col(s"u.$key"), "full_outer")
      .select(base.columns.map(c =>
        coalesce(col(s"u.$c"), col(s"b.$c")).as(c)).toSeq: _*)
  }

  /** Order-independent content signature of a dataset path: XOR of a
    * per-file hash over (name, length, mtime), resolved through the
    * Hadoop FileSystem API — the source half of [[artifactKey]]. */
  def contentSignature(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var h = 0L
    while (it.hasNext) {
      val st = it.next()
      // caseClassHash (productHash is deprecated); the exact hash
      // function is not part of any persisted contract — a signature
      // change only forces a one-time index rebuild
      val f = scala.util.hashing.MurmurHash3.caseClassHash(
        (st.getPath.getName, st.getLen, st.getModificationTime))
      // XOR of per-file hashes: listing order is filesystem-dependent
      h ^= f.toLong * 0x9E3779B97F4A7C15L
    }
    h
  }

  /** Ensure a bucketed+sorted managed-table copy of a driver table
    * exists and return its name. Written once per (session, sfDir) —
    * repeat calls (bench re-runs, multiple queries over the same
    * layout) reuse the existing table, which is exactly how a
    * production bucketed table amortizes its one write across every
    * downstream shuffle-free join. */
  def bucketedTable(spark: SparkSession, sfDir: String, name: String,
      bucketCol: String, buckets: Int = 8): String = {
    val tbl = s"graft_bkt_${name}_${math.abs(sfDir.hashCode.toLong)}"
    if (!spark.catalog.tableExists(tbl)) {
      // the metastore (derby) is per-JVM but the warehouse dir is not:
      // a table location left by a previous process is invisible to
      // this catalog and would fail the write — clear the stale copy
      // (graft-owned derived artifact, deterministically rebuilt)
      FileUtils.deleteDirectory(new java.io.File(
        s"${spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")}/$tbl"))
      graft.Tables.load(spark, sfDir, name)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .format("parquet")
        .saveAsTable(tbl)
    }
    tbl
  }
}
