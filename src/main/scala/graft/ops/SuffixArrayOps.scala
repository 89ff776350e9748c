package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.HashFunctions

/** Distributed suffix-array construction by prefix doubling (Manber &
  * Myers '90 rank doubling — public literature, independent
  * implementation; the Spark-native answer to the §8.5 suffix-array
  * gap left after `dedup_span_excise` closed the fixed-L excision
  * path).
  *
  * One row per character position of every document; suffixes never
  * cross documents (each suffix is `text[off..)` of its own doc, so no
  * sentinel concatenation and no phantom cross-doc repeats). Round k
  * re-keys every position by (rank, rank-at-off+2^k) — a co-keyed
  * self-join — and re-ranks. After ⌈log₂ maxLen⌉ rounds ranks are
  * stable; identical suffixes of DIFFERENT documents share a rank by
  * construction (they are equal strings), which is exactly what the
  * repeated-substring consumers want.
  *
  * Scale shape: the only primitives are co-keyed equi-joins on
  * (doc_id, off) and a distributed DENSE RANK implemented the
  * scale-correct way — range-repartition + in-partition sort, then
  * per-partition (firstKey, lastKey, #distinct) summaries (ONE small
  * collect of nPartitions rows) fix global offsets, and a second
  * map-partitions pass assigns ranks. No global single-partition
  * window anywhere in the build; the driver holds per-partition
  * summaries only. Rounds: log₂ of the longest suffix the caller
  * cares about (`maxLen` caps comparison depth — corpus-wide repeats
  * longer than maxLen still rank equal, exactly like a truncated
  * sort key).
  */
object SuffixArrayOps {

  /** (doc_id, off, sa_rank): dense lexicographic rank of
    * `text[off..min(off+maxLen, len))` over all suffixes of all docs. */
  def suffixArray(docs: DataFrame, idCol: String, textCol: String,
      maxLen: Int = 256, numParts: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parts =
      if (numParts > 0) numParts
      else math.max(1, spark.conf
        .get("spark.sql.shuffle.partitions", "32").toInt)
    // r15: start the doubling from a 4-CHARACTER initial rank instead
    // of 1 (guide §2.6 — each saved round is a repartitionByRange +
    // checkpoint + driver summaries round-trip): round 0 keys on the
    // packed codepoints of chars [off, off+4) — 21 bits per codepoint
    // (max 0x10FFFF), two per long key, missing chars pack as 0 which
    // sorts before every real char exactly like the shorter suffix it
    // is. Depth-4 dense ranks are identical to what two doubling
    // rounds over 1-char ranks produce, and every later depth (4, 8,
    // 16, …) is the same power-of-two sequence the 1-char start
    // reaches from depth 4 onward, so final ranks are bit-identical —
    // two fewer rounds, nothing else. Chars come from the SAME
    // split-by-"" decomposition as before (not substring) so the
    // per-"char" unit cannot drift. maxLen < 4 keeps the 1-char start.
    val d0 = if (maxLen >= 4) 4L else 1L
    val pos = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("t"))
      .select(col("doc_id"), split(col("t"), "").as("cs"))
      .select(col("doc_id"), col("cs"), posexplode(col("cs")))
      .select(col("doc_id"), col("cs"), col("pos").cast("long").as("off"),
        ascii(col("col")).cast("long").as("c0"))
      .filter(col("c0") > 0) // split("") yields no trailing empty in Spark 3+
    // codepoint at off+i, 0 past the end (try_element_at: null beyond
    // the array under ANSI, coalesced to the sorts-first sentinel)
    def cAt(i: Int) = coalesce(
      ascii(try_element_at(col("cs"), (col("off") + lit(i + 1)).cast("int")))
        .cast("long"), lit(0L))
    val round0 =
      if (d0 == 4L)
        pos.select(col("doc_id"), col("off"),
          (col("c0") * lit(1L << 21) + cAt(1)).as("k1"),
          (cAt(2) * lit(1L << 21) + cAt(3)).as("k2"))
      else
        pos.select(col("doc_id"), col("off"),
          col("c0").as("k1"), lit(-1L).as("k2"))
    // round 0 rank. denseRankCounted returns the
    // global distinct-rank count computed IN the summaries pass it
    // already runs — the old per-round `max(rank)` aggregate was a
    // whole extra job per doubling round for a number the driver had
    // just finished adding up (r14 job-count cut).
    var (ranked0, distinctRanks) = denseRankCounted(round0, parts)
    var ranked = ranked0.localCheckpoint()
    val n = ranked.count()
    // empty slice (no docs, or all texts empty): the empty ranked
    // frame already has the right shape, so short-circuit
    if (n == 0)
      return ranked.select(col("doc_id"), col("off"),
        col("rank").as("sa_rank"))
    var k = d0
    // early exit at the refinement FIXED POINT: doubling only ever
    // splits rank classes, so an unchanged distinct-rank count means
    // the partition is stable (r₂ₖ = f(rₖ) = rₖ ⇒ all later rounds are
    // identity) — this fires both when all suffixes separate AND when
    // persistent cross-doc ties (true repeats) stop refining
    var prevDistinct = -1L
    while (k < maxLen && distinctRanks < n && distinctRanks != prevDistinct) {
      prevDistinct = distinctRanks
      val shifted = ranked.select(col("doc_id").as("d2"),
        (col("off") - k).as("o2"), col("rank").as("rk2"))
      val keyed = ranked.join(shifted,
        col("doc_id") === col("d2") && col("off") === col("o2"),
        "left")
        .select(col("doc_id"), col("off"), col("rank").as("k1"),
          coalesce(col("rk2"), lit(-1L)).as("k2"))
      val (r2, d2) = denseRankCounted(keyed, parts)
      ranked = r2.localCheckpoint()
      distinctRanks = d2
      k *= 2
    }
    ranked.select(col("doc_id"), col("off"), col("rank").as("sa_rank"))
  }

  /** Distributed dense rank of rows keyed by (k1, k2): range-partition
    * by the key, sort within partitions, summarize each partition's
    * (first key, last key, distinct-key count) — nPartitions rows to
    * the driver — then assign global dense ranks in one more pass.
    * Returns (doc_id, off, rank) plus the GLOBAL distinct-key count,
    * read off the same per-partition summaries the rank-offset pass
    * collects — the doubling loop's fixed-point test gets it without a
    * second aggregation job. */
  private[ops] def denseRankCounted(keyed: DataFrame,
      parts: Int): (DataFrame, Long) = {
    val spark = keyed.sparkSession
    val sorted = keyed
      .repartitionByRange(parts, col("k1"), col("k2"))
      .sortWithinPartitions(col("k1"), col("k2"))
      .select(col("doc_id"), col("off"), col("k1"), col("k2"))
      .localCheckpoint()
    val summaries = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var first: (Long, Long) = null
      var last: (Long, Long) = null
      var distinct = 0L
      it.foreach { r =>
        val key = (r.getLong(2), r.getLong(3))
        if (first == null) first = key
        if (last == null || key != last) distinct += 1
        last = key
      }
      if (first == null) Iterator.empty
      else Iterator((pid, first, last, distinct))
    }.collect().sortBy(_._1)
    // global offset per partition; partitions whose first key equals
    // the previous partition's last key share that key's rank
    val offsets = new Array[Long](summaries.length)
    var acc = 0L
    summaries.zipWithIndex.foreach { case ((_, first, last, distinct), i) =>
      val mergesLeft = i > 0 && summaries(i - 1)._3 == first
      offsets(i) = if (mergesLeft) acc - 1 else acc
      acc = offsets(i) + distinct
    }
    val byPid = summaries.map(_._1).zip(offsets).toMap
    val bcOffsets = spark.sparkContext.broadcast(byPid)
    val outRows = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val base = bcOffsets.value.getOrElse(pid, 0L)
      var prev: (Long, Long) = null
      var rank = base - 1
      it.map { r =>
        val key = (r.getLong(2), r.getLong(3))
        if (prev == null || key != prev) rank += 1
        prev = key
        Row(r.getLong(0), r.getLong(1), rank)
      }
    }
    (spark.createDataFrame(outRows, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("rank", LongType, nullable = false)))),
      acc) // acc = sum of per-partition distincts minus merges = global count
  }

  /** Pair each suffix with its SUCCESSOR in SA order — the `lead()`
    * adjacency every SA+LCP consumer needs — without a global window:
    * range-partition by the SA order key, sort within partitions, and
    * compute the lead locally; each partition's LAST row gets its
    * successor via a boundary-row exchange (the first suffix string of
    * every partition — nPartitions short strings — collects to the
    * driver and broadcasts back, the same summaries trick as
    * [[denseRankCounted]]). No single-partition WindowExec anywhere in the
    * plan (gated in SuffixArraySpec); suffix strings only ever move
    * inside the one range shuffle.
    *
    * Input: (sa_rank, doc_id, off, s). Output adds `s_next` (string,
    * null only for the globally-last suffix). */
  private[ops] def withNextSuffix(suff: DataFrame, parts: Int): DataFrame = {
    val spark = suff.sparkSession
    val sorted = suff
      .repartitionByRange(parts, col("sa_rank"), col("doc_id"), col("off"))
      .sortWithinPartitions(col("sa_rank"), col("doc_id"), col("off"))
      .select(col("sa_rank"), col("doc_id"), col("off"), col("s"))
      .localCheckpoint()
    // boundary exchange: partition -> its FIRST suffix string
    val firsts = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) Iterator((pid, it.next().getString(3)))
      else Iterator.empty
    }.collect().toMap
    val nParts = sorted.rdd.getNumPartitions
    // successor string for a partition's last row = first string of the
    // next NON-EMPTY partition (range partitioning can leave gaps)
    val nextFirst: Map[Int, String] = (0 until nParts).map { pid =>
      pid -> ((pid + 1) until nParts)
        .collectFirst { case p if firsts.contains(p) => firsts(p) }
        .orNull
    }.toMap
    val bcNext = spark.sparkContext.broadcast(nextFirst)
    val outRows = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val buf = it.buffered
      new Iterator[Row] {
        override def hasNext: Boolean = buf.hasNext
        override def next(): Row = {
          val r = buf.next()
          val nxt =
            if (buf.hasNext) buf.head.getString(3)
            else bcNext.value.getOrElse(pid, null)
          Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), nxt)
        }
      }
    }
    spark.createDataFrame(outRows, StructType(Seq(
      StructField("sa_rank", LongType, nullable = false),
      StructField("doc_id", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("s_next", StringType, nullable = true))))
  }

  /** (sa_rank, doc_id, off, s) suffix rows for an SA over `docs`. */
  private def suffixRows(sa: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxLen: Int): DataFrame = {
    val texts = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("t"))
    sa.join(texts, "doc_id")
      .select(col("sa_rank"), col("doc_id"), col("off"),
        expr(s"substring(t, cast(off + 1 as int), $maxLen)").as("s"))
  }

  /** Longest repeated substring over the corpus slice: adjacent
    * suffixes in SA order compared by the codegen'd CommonPrefixLen —
    * the classic SA+LCP application. Comparison depth caps at
    * `maxLen` (same cap as the array build). Output: one row
    * (lrs_len, lrs_md5, n_positions) where n_positions counts every
    * corpus position whose suffix starts with the winning repeat.
    * Adjacency comes from [[withNextSuffix]]'s range-partition +
    * boundary-row exchange — no global single-partition window. */
  def longestRepeat(docs: DataFrame, idCol: String, textCol: String,
      maxLen: Int = 256, numParts: Int = 0,
      precomputedSa: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val parts =
      if (numParts > 0) numParts
      else math.max(1, spark.conf
        .get("spark.sql.shuffle.partitions", "32").toInt)
    val sa = precomputedSa.getOrElse(
      suffixArray(docs, idCol, textCol, maxLen, numParts))
    val suff = suffixRows(sa, docs, idCol, textCol, maxLen)
    val lcp = withNextSuffix(suff, parts)
      .filter(col("s_next").isNotNull)
      .withColumn("lcp",
        HashFunctions.commonPrefixLen(col("s"), col("s_next")))
    val bestRow = lcp.agg(max(col("lcp")).as("lrs_len")).head
    val best = if (bestRow.isNullAt(0)) 0 else bestRow.getInt(0)
    if (best <= 0) {
      val spark = docs.sparkSession
      import spark.implicits._
      return Seq((0L, "", 0L)).toDF("lrs_len", "lrs_md5", "n_positions")
    }
    val winner = lcp.filter(col("lcp") === best)
      .select(expr(s"substring(s, 1, $best)").as("r"))
      .orderBy(col("r")).limit(1) // deterministic among equal-length
    val positions = suff.join(broadcast(winner),
      expr(s"substring(s, 1, $best)") === col("r"))
    positions
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n_positions"))
      .select(lit(best.toLong).as("lrs_len"), md5(col("r")).as("lrs_md5"),
        col("n_positions"))
  }

  /** [[suffixArray]] as a persisted parquet artifact
    * ([[StorageOps.publish]] under an [[StorageOps.artifactPath]] of
    * the source path; `variant` names the slice/filter of that path):
    * the first call builds the array with the prefix-doubling jobs and
    * writes (doc_id, off, sa_rank); every later call on the same corpus
    * bytes is a plain parquet scan — ZERO doubling rounds
    * (job-count-gated in SuffixArraySpec). */
  def cachedSuffixArray(spark: SparkSession, srcPath: String,
      variant: String, docs: DataFrame, idCol: String, textCol: String,
      maxLen: Int = 256, numParts: Int = 0): DataFrame = {
    val dir = StorageOps.artifactPath(spark, srcPath, s"sa_${variant}_$maxLen")
    StorageOps.publish(dir)(tmp =>
      suffixArray(docs, idCol, textCol, maxLen, numParts)
        .write.mode("overwrite").parquet(tmp))
    StorageOps.parquet(spark, dir)
  }

  /** General-L repeated-span report off a (possibly persisted) suffix
    * array: every maximal run of SA-adjacent suffixes sharing a prefix
    * of >= minLen chars is one repeated span — (span_md5, span_len =
    * run's minimum adjacent LCP, n_positions = run size). The classic
    * "all repeats of length >= L" SA query, and the reason the
    * persisted artifact pays for itself: each new L is one scan of the
    * stored ranks + the [[withNextSuffix]] adjacency, no rebuild.
    * Run detection is a sum-over-boundary-flags segment id — a range
    * window over the already-range-partitioned adjacency, not a global
    * one. */
  def repeatedSpans(sa: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxLen: Int = 256,
      numParts: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val parts =
      if (numParts > 0) numParts
      else math.max(1, spark.conf
        .get("spark.sql.shuffle.partitions", "32").toInt)
    val adj = withNextSuffix(
      suffixRows(sa, docs, idCol, textCol, maxLen), parts)
      .withColumn("lcp", when(col("s_next").isNotNull,
        HashFunctions.commonPrefixLen(col("s"), col("s_next")))
        .otherwise(lit(0)))
    // a suffix BELONGS to a >=minLen run if it shares >=minLen chars
    // with its predecessor or successor; group by the shared prefix
    // itself (first minLen chars) — suffixes in the same run agree on
    // it by construction, so no segment-id chain is needed and the
    // aggregation is an ordinary hash groupBy
    val members = adj.filter(col("lcp") >= minLen)
      .select(expr(s"substring(s, 1, $minLen)").as("p"),
        col("doc_id"), col("off"), col("lcp"))
    // each qualifying adjacency (s_i, s_{i+1}) contributes s_{i+1} as
    // well: count positions = adjacencies + 1 per maximal run; the
    // successor's own row either also qualifies (interior) or is the
    // run's last element, counted via the +1 below
    members
      .groupBy(col("p"))
      .agg((count(lit(1)) + 1).as("n_positions"),
        min(col("lcp")).cast("long").as("span_len"))
      .select(md5(col("p")).as("span_md5"), col("span_len"),
        col("n_positions"))
      .orderBy(col("n_positions").desc, col("span_md5"))
  }
}
