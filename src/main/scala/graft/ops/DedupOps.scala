package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.HashFunctions

/** Near-duplicate detection for large-scale training-data pipelines.
  *
  * Four families (the reference has no dedup surface at all — these are
  * beyond-reference extensions):
  *
  *  - exact:        hash-groupBy on the raw text (one shuffle on text)
  *  - MinHash+LSH:  shingle → k-lane minhash signature → band → bucket
  *                  self-join → exact-Jaccard verification (Broder '97)
  *  - SimHash:      64-bit simhash → 4×16-bit band blocking → Hamming
  *                  verification (Charikar '02; pigeonhole: ≤3 differing
  *                  bits ⇒ at least one of 4 bands identical)
  *  - n-gram Jaccard: inverted index on document-frequency-pruned
  *                  character n-grams → candidate pairs → exact Jaccard
  *
  * Scale notes (100 TB): every method is generate-candidates-then-verify
  * — no all-pairs product anywhere. Candidate generation shuffles on
  * (band, hash) or n-gram keys; hot buckets are bounded (maxBucket /
  * maxDf caps) so one degenerate key cannot create a quadratic task.
  * Verification joins are equi-joins on doc ids, which AQE plans as
  * broadcast or shuffle-hash depending on candidate volume.
  *
  * Each pipeline step is written once, here; every caller in `ops`,
  * `queries` and `streaming` composes these and keeps only its own
  * sketch, score expression, pins and hints:
  *  - shingle:     [[wordShingles]] (n-word strings)
  *  - segment:     [[segmentCount]] / [[segmentText]] (the `segLen`
  *                 tiling of [[segmentDedup]] and the ingest inventories)
  *  - band:        [[laneBands]] / [[bitBands]] build the per-band keys,
  *                 [[explodeBands]] turns them into (band_id, key) rows
  *  - block:       [[bucketPairs]] (bucket → a<b candidate pairs)
  *  - verify:      [[verifySketches]] (sketch only candidate docs),
  *                 [[joinPairEnds]] (attach a per-id value to both ends
  *                 of a pair), [[setJaccard]]
  *  - symmetrize:  [[symmetrize]] (one row per pair direction), and
  *                 [[partnerSummary]] (per-doc dup counts over it)
  */
object DedupOps {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Integer division as a Column — Catalyst's `IntegralDivide` (SQL
    * `div`), never `.divide` (double): the dedup prefix/segment
    * arithmetic is documented as PURE INTEGER so the DuckDB oracle
    * (`//`) agrees on every length by construction, not by ulp luck. */
  private[graft] def idiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Prefix of the observed-metric names under which [[bucketPairs]]
    * (and the incremental corpus-bucket compaction) report how many
    * over-`maxBucket` buckets they dropped. One metric per call site
    * per query (auto-suffixed — Spark requires observed-metric names
    * to be unique within a plan); read them from
    * `df.queryExecution.observedMetrics` or a QueryExecutionListener.
    * The LSH family treats a drop as a documented recall trade-off —
    * but NEVER a silent one. */
  val DroppedBucketMetricPrefix = "graft_dropped_buckets"

  private val metricSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def nextMetricName(): String =
    s"${DroppedBucketMetricPrefix}_${metricSeq.incrementAndGet()}"

  /** n-word shingles of a token array (single-element fallback for
    * short docs so every doc has a non-empty shingle set; a null token
    * array yields one null shingle). */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(array_join(toks, " ")))

  /** Number of `segLen`-token segments of a token array (the last one
    * may be short; an empty array has none). */
  private[graft] def segmentCount(toks: Column, segLen: Int): Column =
    idiv(size(toks) + lit(segLen - 1), lit(segLen))

  /** Text of 0-based segment `i` of a token array: its `segLen`
    * tokens joined with single spaces. */
  private[graft] def segmentText(toks: Column, segLen: Int): Column => Column =
    i => array_join(slice(toks, i * segLen + 1, lit(segLen)), " ")

  /** Per-band keys of a k-lane signature array: band `b` is lanes
    * `b·r+1 .. b·r+r` (r = k / bands) reduced by `key`. */
  private def laneBands(sig: Column, k: Int, bands: Int)(
      key: Column => Column): Column = {
    // uneven banding would silently exclude the trailing k % bands
    // signature lanes from every band, quietly lowering LSH recall
    require(bands > 0 && k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => key(slice(sig, b * lit(r) + 1, lit(r))))
  }

  /** Per-band keys of a bit signature: band `b` is bits
    * `b·bits .. b·bits+bits-1` of the long `sig`. */
  private[graft] def bitBands(sig: Column, nBands: Int, bits: Int): Column =
    array((0 until nBands).map(b =>
      shiftrightunsigned(sig, b * bits).bitwiseAND(lit((1L << bits) - 1))): _*)

  /** One (keep…, band_id, `keyCol`) row per band of each input row —
    * the blocking input [[bucketPairs]] groups by. `bandKeys` is the
    * array of per-band keys ([[laneBands]] / [[bitBands]]). */
  private[graft] def explodeBands(df: DataFrame, keep: Seq[Column],
      bandKeys: Column, keyCol: String): DataFrame =
    df.select(keep :+ posexplode(bandKeys): _*)
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", keyCol)

  /** Attach `side`'s per-id `valCol` to both ends of an (a, b) pair
    * frame, as `aAs` and `bAs` — the verification join. */
  private[graft] def joinPairEnds(pairs: DataFrame, side: DataFrame,
      idCol: String, valCol: String, aAs: String, bAs: String): DataFrame =
    pairs
      .join(side.select(col(idCol).as("a"), col(valCol).as(aAs)), Seq("a"))
      .join(side.select(col(idCol).as("b"), col(valCol).as(bAs)), Seq("b"))

  /** Jaccard similarity of two set arrays, as a double. */
  private[graft] def setJaccard(x: Column, y: Column): Column =
    size(array_intersect(x, y)).cast("double") / size(array_union(x, y))

  /** Expand each small bucket (grouped id list) into its (a, b) pairs
    * with a<b, entirely inside ONE aggregation stage: groupBy(bucket) →
    * bounded sorted id set ([[graft.functions.BoundedCollectSet]], a
    * TypedImperativeAggregate whose buffer caps at maxN+1 — a bucket
    * that reaches the cap is degenerate and dropped) → pair expansion
    * via nested transform → explode. One shuffle of the bucketed table,
    * bounded aggregation memory, no bucket self-join.
    *
    * `minCo` keeps only pairs that co-occur in at least that many
    * buckets — for an inverted index (one bucket per n-gram) this is a
    * minimum-shared-grams prefilter that discards the long tail of
    * pairs sharing a single rare key before any verification payload
    * moves. Same shuffle as the plain distinct (it is the same
    * aggregation with a HAVING).
    *
    * Bucket overflow is NEVER silent. A bucket that saturates its
    * buffer (size == maxN+1 — the cap was binding) is handled per
    * `failOnOverflow`:
    *  - false (LSH/candidate family): the bucket is dropped as a
    *    documented recall trade-off, and the number of dropped buckets
    *    is surfaced as an observed metric
    *    ([[DroppedBucketMetricPrefix]]) so a production run can alert
    *    on recall loss instead of discovering it never;
    *  - true (EXACT contracts — [[setSimPairsExact]]): the query FAILS
    *    with `raise_error` naming the bucket key, because dropping a
    *    bucket under a "zero probabilistic misses" contract silently
    *    deletes result pairs. At 100 TB there is no oracle to catch
    *    it; the engine must. */
  private[ops] def bucketPairs(bucketed: DataFrame, bucketCols: Seq[Column],
      idCol: String, minN: Int, maxN: Int, minCo: Int = 1,
      failOnOverflow: Boolean = false,
      pairPred: Option[(Column, Column) => Column] = None): DataFrame = {
    // pair expansion indexes ids[1..size-1]; minN=1 would generate a
    // DESCENDING sequence(1, 0) and element_at(ids, 0) throws at runtime
    require(minN >= 2, s"minN must be >= 2 (got $minN)")
    require(minCo >= 1, s"minCo must be >= 1 (got $minCo)")
    import graft.functions.BoundedCollectSet.boundedCollectSet
    val aggd = bucketed.groupBy(bucketCols: _*)
      .agg(boundedCollectSet(col(idCol), maxN + 1).as("ids"))
    val buckets =
      if (failOnOverflow) {
        // the raise_error rides INSIDE the ids column (an unused check
        // column would be pruned away by the optimizer); a saturated
        // bucket always passes the >= minN filter, so no filter
        // reorder can skip the check
        aggd.select(
          when(size(col("ids")) === maxN + 1,
            raise_error(concat(
              lit(s"bucketPairs: bucket exceeded maxBucket=$maxN under " +
                "an exact contract — raise maxBucket (key=["),
              concat_ws(",", bucketCols.map(_.cast("string")): _*),
              lit("])"))).cast(ArrayType(LongType, containsNull = false)))
            .otherwise(col("ids")).as("ids"))
          .filter(size(col("ids")) >= minN)
      } else {
        aggd.observe(nextMetricName(),
          sum(when(size(col("ids")) === maxN + 1, 1L).otherwise(0L))
            .as("dropped_buckets"))
          .filter(size(col("ids")).between(minN, maxN))
      }
    val pairArray0 = flatten(transform(
      sequence(lit(1), size(col("ids")) - 1),
      i => transform(slice(col("ids"), i + 1, size(col("ids"))),
        b => struct(element_at(col("ids"), i).as("a"), b.as("b")))))
    // optional in-bucket pair predicate (r15): pairs failing it never
    // leave the expansion, so they never reach the pair-dedup shuffle —
    // the PPJoin length-filter hook (guide §2.3, shuffle fewer bytes).
    // Callers must pass a predicate that can only REMOVE pairs a later
    // exact filter would remove anyway; correctness stays with them.
    val pairArray = pairPred.fold(pairArray0)(p =>
      filter(pairArray0, s => p(s.getField("a"), s.getField("b"))))
    val expanded = buckets.select(explode(pairArray).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    if (minCo <= 1) expanded.distinct()
    else expanded.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("__co"))
      .filter(col("__co") >= minCo)
      .select(col("a"), col("b"))
  }

  /** Candidate pairs (a < b) whose minhash signatures collide in at
    * least one LSH band. `maxBucket` caps degenerate buckets (e.g. the
    * empty document) so no single bucket goes quadratic at scale. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val bandsDf = minhashBands(docs, idCol, textCol, k, bands, shingleN)
    // One aggregation stage: bucket → capped sorted id list → in-bucket
    // pair expansion (degenerate buckets above maxBucket are dropped —
    // they carry no near-dup signal and would expand quadratically).
    bucketPairs(bandsDf, Seq(col("band_id"), col("band_hash")), idCol,
      minN = 2, maxN = maxBucket)
  }

  /** The prime modulus of [[portableMinhashPairs]]' lane-hash family:
    * 2³¹−1 (Mersenne). Every lane value and multiplier is < 2³¹, so
    * the a·h products stay < 2⁶² — exact in any engine's BIGINT, no
    * silent wrap on the Spark side, no overflow error on the oracle
    * side. */
  private[ops] val PortableP = 2147483647L

  /** MinHash+LSH near-dup with a PORTABLE hash family: each distinct
    * shingle is hashed ONCE with md5 (lowercase hex — identical bytes
    * in any engine; the top 60 bits parse to a BIGINT), and the k lane
    * hashes derive by the classic universal affine family
    * `(aᵢ·h + bᵢ) mod P` over P = 2³¹−1 with fixed per-lane
    * multipliers — integer arithmetic any engine reproduces exactly.
    * Band keys are the '|'-joined lane blocks. That makes the ENTIRE
    * pipeline — shingling, k-lane signatures, banding, bucket candidate
    * generation, exact-Jaccard verification — reproducible in portable
    * SQL, so the full LSH near-dup result is hash-oracle-checkable
    * end-to-end (the one thing [[minhashCandidates]]'s xxhash64 lanes
    * cannot offer). One md5 per shingle (not per lane×shingle — the
    * 16× that made the md5-per-lane formulation the most expensive
    * query in the suite); the lane fan-out is 16 multiply-add-mods on
    * a precomputed long.
    *
    * This is the CERTIFICATION variant; the xxhash64 pipeline stays the
    * 100-TB wire format (native codegen, no hex parse). The two share
    * every structural property: signatures are computed in ONE
    * row-local HOF pass (no shuffle before banding), candidates come
    * from the same single-aggregation [[bucketPairs]] (bounded buckets,
    * sorted-id a<b pairs, cross-band distinct), and only candidate
    * pairs ever pay the exact-Jaccard join. `maxBucket` must exceed the
    * largest band bucket for the oracle (which has no cap) to agree —
    * trivially true until a corpus has >maxBucket docs agreeing on a
    * full band.
    *
    * Banding math: k=16 lanes in 8 bands of 2 ⇒ collision probability
    * 1-(1-s²)⁸ — 0.995 at s=0.7, so at the 0.7 threshold the candidate
    * front loses essentially nothing. */
  def portableMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 8, shingleN: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    // signature via the native compiled kernel — shingling fused in
    // (md5 fed token bytes directly, no shingle strings allocated):
    // graft.functions.PortableMinhashSignature. The HOF spelling of
    // the identical arithmetic interpreted its lambdas per element
    // and was 30× slower at sf0.1.
    //
    // md5-per-shingle is ~1 ms/doc of real CPU, so the signature pass
    // needs every core. A single-file local scan arrives as ONE split;
    // spread it before the kernel. At cluster scale the corpus arrives
    // as >= defaultParallelism splits and this branch adds no shuffle.
    val sc = docs.sparkSession.sparkContext
    val spread =
      if (docs.rdd.getNumPartitions < sc.defaultParallelism)
        docs.repartition(sc.defaultParallelism)
      else docs
    val banded = explodeBands(
      spread.select(col(idCol),
        HashFunctions.portableMinhashSignature(
          tokens(col(textCol)), k, shingleN).as("sig")),
      Seq(col(idCol)),
      laneBands(col("sig"), k, bands)(lanes =>
        concat_ws("|", transform(lanes, v => v.cast("string")))),
      "band_key")
    // candidate list is small by construction (bucket-capped) — pin it,
    // then pay the shingle recompute ONLY for candidate docs (the
    // verifySketches discipline: without the semi-join the sketch
    // column is computed over the whole corpus once per verification
    // side). Verification intersects the distinct md5-mod-P shingle
    // hash SETS (8-byte longs, compiled kernel) rather than shingle
    // strings — same Jaccard mod md5 collisions, and the oracle
    // replays the identical md5 arithmetic, so the cross-engine check
    // covers this step too. With 2-lane bands the candidate front is
    // ~20× the surviving pairs, so verify cost dominates without it.
    val cand = bucketPairs(banded, Seq(col("band_id"), col("band_key")),
      idCol, minN = 2, maxN = maxBucket)
      .localCheckpoint(true)
    val candDocs = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
      .distinct()
    val candS = spread.join(broadcast(candDocs), Seq(idCol), "left_semi")
      .select(col(idCol),
        HashFunctions.portableShingleHashes(
          tokens(col(textCol)), shingleN).as("sd"))
    val verified = joinPairEnds(cand, candS, idCol, "sd", "sa", "sb")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 4))
    verified.filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join by PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo, Ma & Srikant WWW'07; Xiao et
    * al. WWW'08; public literature, independent implementation): every
    * pair of documents whose distinct word-shingle Jaccard is >= t, with NO
    * probabilistic miss — the deterministic complement of the
    * MinHash/SimHash family (LSH trades recall for speed; this trades
    * a candidate bound derived from the threshold itself).
    *
    * The classic argument: order each doc's distinct set elements by a
    * GLOBAL total order — (document frequency ASC, md5-hash ASC),
    * rarest first — and keep only the first p = n − ceil(t·n) + 1 (the
    * prefix). If J(x,y) >= t then |x∩y| >= t·|x|, and a y missing ALL
    * of x's prefix can share at most n − p = ceil(t·n) − 1 < t·n
    * tokens — contradiction; under the common total order the two
    * PREFIXES must intersect, so candidates = pairs sharing a prefix
    * token, found by the same bounded [[bucketPairs]] aggregation as
    * every other dedup front (bucket = prefix token). Rarest-first
    * ordering is what keeps buckets small at scale: a stopword can
    * only reach a prefix when a doc contains almost nothing rarer, so
    * the inverted index over prefixes indexes the df tail, not the
    * head. `maxBucket` must exceed the largest prefix-token bucket
    * for the EXACT guarantee (and the oracle, which has no cap) to
    * hold — require-gated per bucket is impossible cheaply, so the
    * default is set far above any real prefix bucket.
    *
    * ceil(t·n) is computed in PURE INTEGER arithmetic from the
    * rational threshold tNum/tDen — ceil(a·n/b) = (a·n + b − 1) div b
    * — because ceil(0.7·n) through a double can land on either side
    * of an ulp and the two engines must agree on every prefix length.
    * Verification intersects the sorted distinct md5-long shingle
    * sets; emitted Jaccard rounds to 4 dp (round-trips the
    * cross-engine hash). */
  def setSimPairsExact(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, tNum: Int = 7, tDen: Int = 10,
      maxBucket: Int = 100000): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0,1]: $tNum/$tDen")
    // the set universe is word SHINGLES, not tokens: a natural-language
    // (or small-vocabulary) corpus shares most of its token SET across
    // unrelated docs, which degenerates a token-set join toward
    // all-pairs; shingle sets carry word order and are distinctive.
    // Set elements are the PORTABLE md5-long shingle hashes
    // (PortableShingleHashes — the same arithmetic any engine
    // replays): the global order becomes (df ASC, hash ASC), df
    // counting / prefix sorting / bucketing / verification all move
    // 8-byte longs, and NO shingle string ever reaches a shuffle —
    // the string spelling of this front shuffled the token stream
    // twice as strings and profiled 3x slower. Exactness is mod md5
    // collisions (the spec's brute-force-strings equality would catch
    // one); the oracle replays the identical hash, so the cross-engine
    // match certifies the whole pipeline.
    // ONE md5 kernel pass (r14): the portable shingle-hash arrays are
    // computed once — input fanned out, the md5-per-shingle kernel is
    // the op's dominant cost — pinned, and reused by the df-count
    // explode, the ranked prefix build, AND the verification join
    // below (which previously re-ran the full kernel on candidate
    // docs). The pinned payload is 8 bytes per shingle, ~1/8 the
    // corpus text — the same budget the ranked checkpoint already
    // holds. On a real cluster swap localCheckpoint for reliable
    // checkpoint (executor loss destroys local checkpoint blocks —
    // the ClusterOps caveat applies to every pin in this op); the pin
    // cannot be released early because the verification join reads it
    // in the caller's terminal action.
    val sets = docs
      .select(col(idCol), HashFunctions.portableShingleHashes(
        tokens(col(textCol)), shingleN).as("hs0"))
      .localCheckpoint(true)
    // NOT fanned out (measured r15): an explicit keyed repartition
    // ahead of the df-count or prefix-bucket aggregations moves the
    // partial-aggregation boundary — raw shingle/prefix rows shuffle
    // where map-side combine used to compress them first (shuffle MB
    // doubled) — guide §2.3 "aggregate before you shuffle".
    val tok = sets.select(col(idCol), explode(col("hs0")).as("h"))
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc hash list in global (df, h) order — row-local size.
    // Pinned: referenced by BOTH the prefix explode and the size-
    // compatibility frame below; without the checkpoint each reference
    // re-runs the df join + collect aggregation (two md5 kernel passes
    // each). The pinned payload is hash arrays, ~1/8 the corpus text.
    // The rank-build input IS fanned out (size-gated, by id): AQE
    // coalesces its exchange to one partition locally, serializing the
    // sort_array/collect compute, and collect_list has no map-side
    // compression to lose — rows are the same size either way.
    val ranked = StorageOps.fanOutForKey(
        tok.join(dfreq, Seq("h")), col(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("h"))))
        .as("sorted"))
      .select(col(idCol),
        transform(col("sorted"), x => x.getField("h")).as("hs"),
        size(col("sorted")).as("n"))
      .localCheckpoint(true)
    // r15: PPJoin LENGTH FILTER inside the bucket expansion (guide
    // §2.3 — shuffle fewer bytes): J >= t forces t·max(|x|,|y|) <=
    // min(|x|,|y|), and a pair failing that bound is dead on arrival —
    // checking it BEFORE the pair rows leave the expansion keeps them
    // out of the pair-dedup shuffle entirely (previously every
    // prefix-sharing pair shuffled and the size cut ran after). The
    // doc's distinct-shingle count rides the bucketed id in the low
    // SizeBits bits (injective: one id has one n, so encoded-pair
    // distinct == id-pair distinct, and encoded order == id order).
    // The in-bucket predicate is CONSERVATIVE: a count clamped at the
    // cap passes through, and the exact size filter below still runs
    // on true counts — exactness is untouched. Ids outside [0, 2^42)
    // fall back to the unencoded expansion (one bounded agg on the
    // pinned `ranked` decides).
    val SizeBits = 20
    val SizeCap = (1 << SizeBits) - 1
    val idB = ranked.agg(min(col(idCol)).cast("long"),
      max(col(idCol)).cast("long")).head
    val encodable = !idB.isNullAt(0) && idB.getLong(0) >= 0L &&
      idB.getLong(1) < (1L << (62 - SizeBits))
    val plen = col("n") - idiv(lit(tNum) * col("n") + lit(tDen - 1),
      lit(tDen)).cast("int") + lit(1)
    val preId =
      if (encodable)
        (col(idCol).cast("long") * lit(1L << SizeBits) +
          least(col("n"), lit(SizeCap)).cast("long")).as("__e")
      else col(idCol).cast("long").as("__e")
    val pre = ranked.withColumn("plen", plen)
      .select(preId, explode(slice(col("hs"), lit(1),
        col("plen"))).as("h"))
    val sizeOf = (c: Column) => c.bitwiseAND(lit(SizeCap.toLong))
    val lenPred = (a: Column, b: Column) => {
      val na = sizeOf(a)
      val nb = sizeOf(b)
      na === lit(SizeCap.toLong) || nb === lit(SizeCap.toLong) ||
        least(na, nb) * lit(tDen.toLong) >= lit(tNum.toLong) * greatest(na, nb)
    }
    // failOnOverflow: this op promises ZERO probabilistic misses, so a
    // prefix bucket that saturates maxBucket must kill the query, not
    // silently delete pairs (the LSH family's drop is a recall
    // trade-off; here it would be a correctness hole at 100 TB)
    val candEnc = bucketPairs(pre, Seq(col("h")), "__e",
      minN = 2, maxN = maxBucket, failOnOverflow = true,
      pairPred = if (encodable) Some(lenPred) else None)
    val candRaw =
      if (encodable)
        candEnc.select(shiftright(col("a"), SizeBits).as("a"),
          shiftright(col("b"), SizeBits).as("b"))
      else candEnc
    // SIZE-COMPATIBILITY filter (the AllPairs length bound) before
    // anything set-shaped moves: J >= t forces t·max(|x|,|y|) <=
    // min(|x|,|y|) — checked in the same integer rational arithmetic.
    // On a dense shingle space (this corpus: small vocab, fat df tail)
    // the prefix front alone leaves ~2% of all-pairs; the size cut
    // halves that for the price of two (id, int) joins. Sizes come
    // from `ranked` — its `n` IS each doc's distinct-shingle count —
    // instead of a third full-corpus md5 kernel pass.
    val cand = joinPairEnds(candRaw, ranked, idCol, "n", "na", "nb")
      .filter(least(col("na"), col("nb")) * lit(tDen) >=
        lit(tNum) * greatest(col("na"), col("nb")))
      .localCheckpoint(true)
    // verification intersects the md5-long shingle SETS (compiled
    // kernel, 8-byte elements), and ONLY for docs that survive to a
    // candidate pair (the verifySketches discipline) — the string-set
    // spelling of this join was 20x the suite's mean query time
    val candIds = cand.select(explode(array(col("a"), col("b")))
      .as(idCol)).distinct()
    val candS = sets.join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(col(idCol), col("hs0").as("sd"))
    joinPairEnds(cand, candS, idCol, "sd", "sa", "sb")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter") /
        (col("na") + col("nb") - col("inter")), 4))
      .filter(col("inter") * lit(tDen) >=
        lit(tNum) * (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** SimHash near-dup with the PORTABLE md5 hash family — the Hamming
    * twin of [[portableMinhashPairs]], existing so a SQL oracle can
    * replay the ENTIRE banded-signature pipeline (per-shingle md5
    * votes, bit-majority signature, 4×15-bit band keys, bucket
    * candidates, popcount verification) and certify the structure the
    * production xxhash [[simhashSummary]] shares. Same plan shape:
    * signature in one compiled kernel pass, candidates from the single
    * [[bucketPairs]] aggregation, verification on (long, long) pairs
    * only. Output: (a, b, hamming) for pairs within `maxHamming`. */
  def portableSimhashPairs(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = docs.select(col(idCol),
      HashFunctions.portableSimhash(tokens(col(textCol)), shingleN)
        .as("sig"))
      .localCheckpoint(true) // one kernel pass, reused by band + verify
    val banded = explodeBands(sigs, Seq(col(idCol)),
      array((0 to 3).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND(lit(32767L))): _*),
      "band_key")
    val cand = bucketPairs(banded, Seq(col("band_id"), col("band_key")),
      idCol, minN = 2, maxN = maxBucket)
    joinPairEnds(cand, sigs, idCol, "sig", "sa", "sb")
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** SEGMENT-LEVEL global dedup with document reassembly — the CCNet /
    * C4 line-dedup curation stage (Wenzek et al. '19 dedup paragraphs
    * across shards by hash, keep one occurrence; public literature,
    * independent implementation), over deterministic `segLen`-token
    * segments standing in for paragraph boundaries (this corpus has no
    * newlines — segmentation is the q_chunk tiling, the dedup
    * semantics are CCNet's).
    *
    * Election is FIRST OCCURRENCE: per segment hash, the minimum
    * (doc_id, seg_idx) keeps its copy; every other occurrence is
    * dropped and the surviving segments re-join in order. Distributed
    * discipline (the spanExcise pattern): the winner aggregation and
    * the keep decision move (16-byte hash, doc_id, seg_idx) rows —
    * segment TEXT never reaches a shuffle; reconstruction is ONE
    * co-keyed left join of the kept-index arrays back onto the corpus,
    * with the segment strings recomputed map-side from the doc row by
    * the same HOF that cut them. Output: per doc, segment counts and
    * the md5 of the reassembled text (the digest certifies the full
    * reconstruction cross-engine without emitting text).
    *
    * vs [[spanExcise]]: spanExcise removes EVERY occurrence of
    * duplicated >= L-token spans at token granularity (Lee '22
    * ExactSubstr); this keeps one canonical copy at paragraph
    * granularity — the coarser, cheaper stage a curation pipeline
    * runs first. */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      segLen: Int = 16): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1 (got $segLen)")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .withColumn("n_segs", segmentCount(col("w"), segLen).cast("long"))
    val segText = segmentText(col("w"), segLen)
    val segHashes = base.select(col(idCol),
        posexplode(transform(
          sequence(lit(0), col("n_segs").cast("int") - 1),
          i => md5(segText(i)))))
      .select(col(idCol), col("pos").as("seg_idx"), col("col").as("h"))
    val winners = segHashes.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("win"))
    val keptIdx = segHashes.join(winners, Seq("h"))
      .filter(struct(col(idCol), col("seg_idx")) === col("win"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("seg_idx"))).as("keep"))
    base.join(keptIdx, Seq(idCol), "left")
      .withColumn("keep", coalesce(col("keep"),
        array().cast("array<int>")))
      .select(col(idCol), col("n_segs"),
        size(col("keep")).cast("long").as("n_kept"),
        md5(array_join(transform(col("keep"), segText), " "))
          .as("text_md5"))
  }

  /** Cross-source n-gram overlap matrix — the release-level
    * contamination/redundancy report between corpus SOURCES (crawl
    * snapshots, registries, curated sets): for every unordered source
    * pair, the distinct-shingle intersection size, both containment
    * directions (how much of a's gram set b already covers — the
    * signal for dropping a redundant source), and Jaccard.
    *
    * Scale shape: shingles move as 64-bit kernel hashes
    * ([[graft.functions.HashExpressions.ShingleHashes]], codegen'd,
    * per-doc distinct), the (source, gram) distinct is one 8-byte-hash
    * shuffle, the self-join co-keys on the gram hash, and everything
    * after is sources²-sized. Zero-overlap pairs stay present (the
    * pair frame is built from the sources list, not from surviving
    * joins). The DuckDB oracle recounts the gram STRINGS — an FNV
    * collision surfaces as a count mismatch, never silently. */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val grams = docs
      .select(col(srcCol).as("src"),
        explode(HashFunctions.shingleHashes(tokens(col(textCol)),
          shingleN)).as("g"))
      .distinct()
      .localCheckpoint(true) // referenced three times below
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val pairs = sizes.select(col("src").as("src_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("src").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val inter = grams.select(col("src").as("src_a"), col("g"))
      .join(grams.select(col("src").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val nc = coalesce(col("n_common"), lit(0L))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), nc.as("n_common"),
        col("n_a"), col("n_b"),
        round(nc.cast("double") / col("n_a"), 4).as("contain_a"),
        round(nc.cast("double") / col("n_b"), 4).as("contain_b"),
        round(nc.cast("double") / (col("n_a") + col("n_b") - nc), 4)
          .as("jaccard"))
  }

  /** Materialize a (small, df/bucket-capped) candidate pair list and
    * restrict an expensive per-doc sketch to the docs that actually
    * appear in a pair: without this, the sketch column is computed for
    * the WHOLE corpus once per verification join (the plan references
    * it twice), which profiling showed dominates the dedup summaries —
    * ~3 full-corpus sketch passes for ~10^2 surviving candidate docs.
    * The checkpoint bounds re-execution (the pair list is capped by
    * construction); candidate docs then come from one left-semi join.
    */
  private def verifySketches(pairs: DataFrame, docs: DataFrame,
      idCol: String, sketch: Column, as: String): (DataFrame, DataFrame) = {
    val pairsM = pairs.localCheckpoint(true)
    val candIds = pairsM
      .select(explode(array(col("a"), col("b"))).as(idCol)).distinct()
    val sketches = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), sketch.as(as))
    (pairsM, sketches)
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification.
    * Returns one row per candidate pair with its true shingle Jaccard.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    val cand = minhashCandidates(docs, idCol, textCol, k, bands, shingleN)
    // verification over hashed shingle sets (long arrays): same Jaccard
    // modulo vanishing collisions, ~1/8 the shuffle width of strings —
    // computed only for docs that appear in a candidate pair
    val (candM, shingleSets) = verifySketches(cand, docs, idCol,
      HashFunctions.shingleHashes(tokens(col(textCol)), shingleN),
      "shingles")
    joinPairEnds(candM, shingleSets, idCol, "shingles", "sh_a", "sh_b")
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Symmetrize (a, b[, score]) pairs into one (id, partner[, score])
    * row per direction with a single explode — a union of two selects
    * over the same pair frame would execute the whole candidate+verify
    * pipeline twice. */
  private[graft] def symmetrize(pairs: DataFrame,
      score: Option[String] = None): DataFrame = {
    val kept = score.toSeq.map(col)
    pairs.select(explode(array(
        struct(col("a").as("id"), col("b").as("partner")),
        struct(col("b").as("id"), col("a").as("partner")))).as("e") +:
        kept: _*)
      .select(col("e.id").as("id") +: col("e.partner").as("partner") +:
        kept: _*)
  }

  /** The (id, band_id, band_hash) blocking table for a corpus — the
    * persistable sketch artifact an INCREMENTAL pipeline keeps: at
    * 100 TB you sketch each ingest batch once, append it here, and
    * never re-read old payload text for dedup. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame =
    explodeBands(
      docs.select(col(idCol),
        HashFunctions.minhashSignature(tokens(col(textCol)), k, shingleN)
          .as("sig")),
      Seq(col(idCol)), laneBands(col("sig"), k, bands)(hash(_)), "band_hash")

  /** The (id, shingles) verification table — the persisted companion of
    * [[minhashBands]] (hashed longs, ~1/8 the corpus text width). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame =
    docs.select(col(idCol),
      HashFunctions.shingleHashes(tokens(col(textCol)), shingleN)
        .as("shingles"))

  /** Eval-set decontamination: per corpus document, the number of
    * distinct `shingleN`-token shingles shared with ANY document of an
    * evaluation set, and a flag at `minOverlap` — the contamination
    * sweep a training pipeline runs before a data release (eval
    * examples leaking into training data inflate benchmarks).
    *
    * Scale shape: the eval side is tiny relative to the corpus, so its
    * distinct shingle-hash set is BROADCAST; the corpus side is one
    * pass — explode distinct shingle hashes, broadcast-hash-join
    * against the eval set, count per doc. No shuffle of text, no
    * corpus self-join; the corpus is read once. Shingles move as
    * 64-bit hashes ([[graft.functions.HashExpressions.ShingleHashes]],
    * codegen'd); exactness vs raw-shingle ground truth is
    * ContaminationAndPiiSpec-gated. */
  def evalOverlap(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, minOverlap: Int = 2): DataFrame =
    overlapReport(corpus, corpusShingleGrams(corpus, idCol, textCol, shingleN),
      evalShingleGrams(evalSet, textCol, shingleN), idCol, minOverlap)

  /** The shingle-hash gram array of `textCol` — the one gram expression
    * both sides of every decontamination variant use. */
  private def shingleGrams(textCol: String, shingleN: Int): Column =
    HashFunctions.shingleHashes(tokens(col(textCol)), shingleN)

  /** (id, g) per corpus document and distinct gram (the kernel output
    * is already distinct per document). */
  private def corpusShingleGrams(corpus: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    corpus.select(col(idCol), explode(shingleGrams(textCol, shingleN)).as("g"))

  /** Per corpus document: how many of its (id, g) `candidates` hit the
    * exact eval gram set, and the contamination flag at `minOverlap`. */
  private def overlapReport(corpus: DataFrame, candidates: DataFrame,
      evalGrams: DataFrame, idCol: String, minOverlap: Int): DataFrame = {
    val overlap = candidates.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    val n = coalesce(col("n_overlap"), lit(0L))
    corpus.select(col(idCol))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol), n.as("n_overlap"), (n >= minOverlap).as("contaminated"))
  }

  /** [[evalOverlap]] with a BLOOM-GATED first stage — the
    * large-eval-set / incremental shape. The eval set's distinct
    * shingle hashes compress into a bloom filter (~1.2 MB at 1M grams,
    * 1% fpp — vs broadcasting the full hash table), the corpus-side
    * gram stream drops every hash the filter rejects MAP-SIDE before
    * any join, and only the surviving sliver joins the exact eval
    * grams to kill the false positives. Output is IDENTICAL to
    * [[evalOverlap]] (spec-gated): the bloom has no false negatives by
    * construction, and its false positives die in the exact join. The
    * filter bytes are a reusable artifact — build once per eval-set
    * release, decontaminate every new corpus batch against it with no
    * eval re-read (the probe is a broadcast literal inside codegen,
    * same machinery as Spark's runtime bloom join gates). */
  def evalOverlapBloom(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      minOverlap: Int = 2, fpp: Double = 0.01,
      bloomBytes: Option[Array[Byte]] = None): DataFrame = {
    val evalGrams = evalShingleGrams(evalSet, textCol, shingleN)
      .localCheckpoint(true) // referenced twice: filter build + exact join
    val candidates = corpusShingleGrams(corpus, idCol, textCol, shingleN)
      .filter(bloomMightContain(
        bloomBytes.getOrElse(buildEvalBloom(evalGrams, fpp)), col("g")))
    overlapReport(corpus, candidates, evalGrams, idCol, minOverlap)
  }

  /** Serialized bloom filter over a one-column frame of gram hashes —
    * the reusable per-eval-release decontamination artifact
    * ([[cachedEvalBloom]] persists it): every later corpus batch
    * probes it with [[bloomMightContain]] without re-reading the eval
    * set. */
  def buildEvalBloom(evalGrams: DataFrame, fpp: Double = 0.01,
      col0: String = "g"): Array[Byte] = {
    val nGrams = math.max(1L, evalGrams.count())
    val bf = evalGrams.stat.bloomFilter(col0, nGrams, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Distinct shingle-hash grams of an eval set — the one-column frame
    * [[buildEvalBloom]]/[[cachedEvalBloom]] compress; identical gram
    * construction to the [[evalOverlapBloom]] probe side. */
  def evalShingleGrams(evalSet: DataFrame, textCol: String,
      shingleN: Int = 3): DataFrame =
    evalSet.select(explode(shingleGrams(textCol, shingleN)).as("g"))
      .distinct()

  /** [[buildEvalBloom]] behind the artifact store
    * ([[StorageOps.cachedRows]], keyed by a caller tag and fpp) — the
    * persisted per-eval-release flow: the filter bytes are built ONCE
    * per eval-set release and every later corpus batch probes the
    * loaded bytes with no eval re-read. Bytes travel base64, one line. */
  def cachedEvalBloom(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, tag: String, evalGrams: DataFrame,
      fpp: Double = 0.01): Array[Byte] =
    java.util.Base64.getDecoder.decode(
      StorageOps.cachedRows(spark, srcPath,
        s"bloom_${tag}_${math.round(fpp * 1e6)}")(Seq(
        java.util.Base64.getEncoder.encodeToString(
          buildEvalBloom(evalGrams, fpp)))).head)

  /** Codegen'd membership probe of a long column against serialized
    * bloom bytes (Catalyst's own BloomFilterMightContain — the same
    * machinery as Spark's runtime bloom join gates; the filter rides
    * as a broadcast literal). */
  def bloomMightContain(filterBytes: Array[Byte],
      value: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    ColumnBridge.column(BloomFilterMightContain(
      Literal(filterBytes, BinaryType),
      ColumnBridge.expression(value)))
  }

  /** Incremental near-dup pairs: a NEW batch against an existing corpus
    * represented ONLY by its persisted sketch tables ([[minhashBands]] +
    * [[shingleSets]]) — no corpus text is re-read, no corpus re-sketch.
    * Emits verified pairs touching the new batch: (new, corpus) pairs as
    * (a=new_id, b=corpus_id) plus new-vs-new pairs (a<b). Corpus-side
    * band buckets are compacted + capped (one degenerate band cannot go
    * quadratic); ids must be disjoint across batch and corpus.
    * Equivalence with the full-recompute pipeline on the union corpus is
    * test-gated (IncrementalDedupSpec). */
  def incrementalMinhashPairs(newDocs: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    import graft.functions.BoundedCollectSet.boundedCollectSet
    val newBands = minhashBands(newDocs, idCol, textCol, k, bands, shingleN)
    val corpusBuckets = corpusBands
      .groupBy(col("band_id"), col("band_hash"))
      .agg(boundedCollectSet(col(idCol), maxBucket + 1).as("ids"))
      .observe(nextMetricName(),
        sum(when(size(col("ids")) === maxBucket + 1, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("ids")) <= maxBucket)
    val newVsCorpus = newBands
      .join(corpusBuckets, Seq("band_id", "band_hash"))
      .select(col(idCol).as("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val newVsNew = bucketPairs(newBands,
      Seq(col("band_id"), col("band_hash")), idCol,
      minN = 2, maxN = maxBucket)
    val cand = newVsCorpus.union(newVsNew).distinct()
      .localCheckpoint(true)
    // verification: fresh shingles for the (small) new batch, persisted
    // shingles for the corpus side
    val sh = shingleSets(newDocs, idCol, textCol, shingleN)
      .union(corpusShingles)
    joinPairEnds(cand, sh, idCol, "shingles", "sh_a", "sh_b")
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Per-document near-dup summary via MinHash-LSH: candidate count,
    * verified-duplicate count at `threshold`, and the smallest verified
    * partner id (-1 if none). One row per input doc — stable output
    * shape for the correctness gate. */
  def minhashDedupSummary(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame =
    partnerSummary(docs, idCol, minhashPairs(docs, idCol, textCol), threshold)

  /** One row per `docs` id over verified (a, b, jaccard) pairs: the
    * candidate count, the partners at or above `threshold`, and the
    * smallest such partner (-1 if none). Pairs are symmetrized, so each
    * doc sees its partners regardless of pair order. */
  private[graft] def partnerSummary(docs: DataFrame, idCol: String,
      pairs: DataFrame, threshold: Double): DataFrame = {
    val perDoc = symmetrize(pairs, Some("jaccard")).groupBy(col("id")).agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_dups"),
      min(when(col("jaccard") >= threshold, col("partner"))).as("dup_partner"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dup_partner"), lit(-1L)).as("dup_partner"))
  }

  /** Per-document SimHash near-dup summary: the 64-bit simhash and the
    * number of documents within `maxHamming` bits (banded blocking, then
    * exact popcount verification). */
  def simhashSummary(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // (id, simhash) is 16 bytes/doc and referenced four times (banding,
    // two verification joins, final summary join) — materialize the one
    // full-corpus hash pass instead of re-running it per reference
    val withSh = docs.select(col(idCol),
      HashFunctions.simhash64(tokens(col(textCol))).as("simhash"))
      .localCheckpoint(true)
    hammingNearDupSummary(withSh, idCol, "simhash", maxHamming, maxBucket)
  }

  /** Shared banded-Hamming near-dup tail over any (id, 64-bit hash)
    * frame: 4×16-bit band blocking (any pair within Hamming 3 shares
    * ≥1 band — pigeonhole), capped bucket expansion, popcount
    * verification over re-joined hashes, symmetric per-id counts.
    * Callers ([[simhashSummary]], `Multimodal.phashDupSummary`) pass a
    * MATERIALIZED hash frame — it is referenced three more times
    * here. */
  /** NOTE on `maxBucket` units: in the default doc-level path the cap
    * bounds DOCS per band bucket; under `collapseDuplicates` it bounds
    * DISTINCT HASH VALUES per band bucket (each hash standing for all
    * its duplicate docs), so the same number means a strictly larger
    * recall envelope in collapse mode. No declared corpus engages
    * either cap; callers tuning maxBucket must read it in the active
    * mode's unit. */
  private[ops] def hammingNearDupSummary(withHash: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int,
      maxBucket: Int, collapseDuplicates: Boolean = false): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding only guarantees pairs within Hamming 3")
    // r14, `collapseDuplicates`: band DISTINCT hash VALUES weighted by
    // multiplicity instead of doc rows (optimization guide §8 — decide
    // with small rows): identical payloads share a hash, so doc-level
    // band buckets go quadratic in the duplicate count (measured at
    // sf0.1: the image corpus's 5,000 docs collapse to 30 distinct
    // hashes; the largest doc-level band bucket held 345 docs → ~10^5
    // candidate pairs, vs 2 at hash level — multimodal_ahash_dups
    // 2.1 s → 1.4 s). Per-doc near counts are recovered EXACTLY from
    // the hash-level pair set:
    // n_near(doc) = (mult(h) − 1)                [same-hash partners]
    //             + Σ_{h' ≠ h, hamming ≤ max} mult(h').
    // The flag is STATIC because profitability is a property of the
    // hash function, not the data size: a content-derived hash over
    // decoded media collapses massively (every re-upload is
    // bit-identical), while a near-unique hash (text simhash, the
    // payload-sampled stub phash) gains nothing and pays the
    // multiplicity layer — measured +0.3-0.5 s on dedup_simhash /
    // multimodal_phash, and a runtime decision count costs the same,
    // which is why it is not adaptive. Either path's bucket cap is
    // per-level, but on every declared corpus neither cap engages
    // (345 < 1000 doc-level, 2 hash-level), so the verified pair set —
    // and every output row — is identical.
    if (collapseDuplicates) {
      val hf = withHash.groupBy(col(hashCol).as("__h"))
        .agg(count(lit(1)).as("__mult"))
        .localCheckpoint(true) // one row per distinct hash; used 3x
      val banded = explodeBands(hf, Seq(col("__h")),
        bitBands(col("__h"), 4, 16), "band_val")
      // capped bucket expansion (same machinery as minhash/ngram
      // paths); the paired "ids" ARE the hash values, so popcount
      // verification needs no re-join
      val pairs = bucketPairs(banded, Seq(col("band_id"), col("band_val")),
        "__h", minN = 2, maxN = maxBucket)
      val near = pairs
        .filter(bit_count(col("a").bitwiseXOR(col("b"))) <= maxHamming)
      val sym = symmetrize(near)
        .select(col("id").as("__h"), col("partner").as("__p"))
      val partnerMass = sym
        .join(hf.select(col("__h").as("__p"), col("__mult").as("__pm")),
          Seq("__p"))
        .groupBy(col("__h")).agg(sum(col("__pm")).as("__near_mass"))
      val perHash = hf.join(partnerMass, Seq("__h"), "left")
        .select(col("__h").as(hashCol),
          (col("__mult") - 1 + coalesce(col("__near_mass"), lit(0L)))
            .as("n_near"))
      // LEFT join + coalesce, matching the doc-level path's row
      // contract: a null-hash input row (no caller builds one today)
      // keeps its row with n_near = 0 instead of silently dropping —
      // null keys never equi-match, exactly like the doc-level path
      // where null bands never verify
      withHash.join(perHash, Seq(hashCol), "left")
        .select(col(idCol), col(hashCol),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
    } else {
      val banded = explodeBands(withHash, Seq(col(idCol)),
        bitBands(col(hashCol), 4, 16), "band_val")
      val pairs = bucketPairs(banded, Seq(col("band_id"), col("band_val")),
        idCol, minN = 2, maxN = maxBucket)
      val near = joinPairEnds(pairs, withHash, idCol, hashCol, "h_a", "h_b")
        .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= maxHamming)
      val sym = near.select(explode(array(col("a"), col("b"))).as("id"))
      val counts2 = sym.groupBy(col("id")).agg(count(lit(1)).as("n_near"))
      withHash.join(counts2.withColumnRenamed("id", idCol),
          Seq(idCol), "left")
        .select(col(idCol), col(hashCol),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
    }
  }

  /** Character-n-gram Jaccard near-dup pairs via a document-frequency-
    * pruned inverted index: only n-grams appearing in 2..maxDf docs
    * generate candidates (ubiquitous n-grams carry no signal and would
    * dominate the shuffle at scale; singletons cannot form pairs).
    *
    * Grams are 64-bit-hashed up front: the inverted index, the blocking
    * join, and the verification sets all move longs instead of strings
    * — ~8× less shuffle volume and O(1) comparisons, at the cost of a
    * vanishing hash-collision error in the Jaccard estimate. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxDf: Int = 10, sampleK: Int = 32,
      minCoGrams: Int = 2): DataFrame = {
    require(sampleK >= 1, s"sampleK must be >= 1 (got $sampleK)")
    val grams = docs.select(col(idCol),
      HashFunctions.charNgramHashes(col(textCol), n).as("grams"))
    // Candidate generation runs on each doc's BOTTOM-K gram hashes
    // (gram arrays are sorted ascending, so bottom-k is a slice): a
    // per-doc minhash-style sketch whose pairwise overlap concentrates
    // at ~k*jaccard shared grams, INDEPENDENT of corpus-wide gram
    // frequency — unlike a global mod-p sample, template twins whose
    // shared grams are mostly corpus-common still collide on their
    // shared bottom-k. The inverted index — the dominant shuffle of
    // this pipeline — shrinks from all grams (~2000/doc) to k/doc,
    // with no effect on the VERIFIED jaccard, which is computed over
    // the full gram sets. Measured: candidate recall 1.0 at the
    // sf0.001 j>=0.5 gate (RecallGatesSpec), candidate volume and
    // runtime both ~5x lower at sf0.1 (PLANS.md §recall).
    val inv = grams
      .select(col(idCol), explode(slice(col("grams"), 1, sampleK)).as("gram"))
    // df-pruned inverted index → in-bucket pair expansion in one
    // aggregation (grams common across >maxDf docs dropped: no signal,
    // quadratic cost); pairs must share >= minCoGrams sampled grams —
    // a single shared gram is noise, and the long tail of such pairs
    // is what used to dominate verification cost
    val pairs = bucketPairs(inv, Seq(col("gram")), idCol,
      minN = 2, maxN = maxDf, minCo = minCoGrams)
    // gram sets re-computed only for candidate docs (one full-corpus
    // gram pass — the inverted index — instead of three)
    val (pairsM, gramsCand) = verifySketches(pairs, docs, idCol,
      HashFunctions.charNgramHashes(col(textCol), n), "grams")
    joinPairEnds(pairsM, gramsCand, idCol, "grams", "g_a", "g_b")
      .withColumn("jaccard", setJaccard(col("g_a"), col("g_b")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Exact duplicated-span excision (the ExactSubstr shape of Lee et
    * al. '22, arXiv:2107.06499 — there built on a monolithic suffix
    * array). Distributed-native reduction instead: a span of s >= L
    * tokens is duplicated iff every one of its s-L+1 sliding L-token
    * windows is duplicated, so the union of duplicated-window token
    * positions IS the union of maximal duplicated spans — interval
    * merging falls out of the per-document covered-index set union.
    * Deliberate deviation: ALL occurrences are excised (not
    * all-but-one), keeping the output deterministic with no survivor
    * election.
    *
    * Returns (idCol, n_tokens, n_removed, clean_md5) per document,
    * where clean_md5 hashes the space-joined surviving tokens.
    *
    * Scale shape (100 TB): the window-counting shuffle moves xxhash64
    * LONGS, never window strings (callers' oracles count the strings,
    * so a 64-bit collision surfaces as a hash mismatch); the
    * covered-index aggregation shuffles (doc_id, idx) ints only for
    * documents containing duplicated windows; reconstruction is one
    * left join plus a map-side higher-order filter over the token
    * array. No suffix ever shuffles; nothing is driver-side. */
  def spanExcise(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 8): DataFrame = {
    val (toks, coveredIdx) = coveredPositions(docs, idCol, textCol, minLen)
    val covered = coveredIdx
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("cov"))
    toks.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(filter(col("w"),
          (_, i) => !array_contains(
            coalesce(col("cov"), array().cast("array<int>")), i)),
          " ")).as("clean_md5"))
      .orderBy(col(idCol))
  }

  /** Span-level DECONTAMINATION (the excise counterpart of
    * [[evalOverlap]]'s doc-level verdicts): remove from each corpus
    * document exactly the token positions covered by some
    * minLen-token window that also occurs in the EVAL set, keeping
    * the rest of the document — the surgical alternative to dropping
    * a whole doc for one leaked benchmark string. Same interval
    * algebra as [[spanExcise]] (a contaminated span of s ≥ L tokens
    * is the union of its s−L+1 contaminated L-windows), but the
    * covered set comes from a broadcast of the eval side's distinct
    * window hashes instead of a corpus self-count.
    *
    * Returns (idCol, n_tokens, n_removed, clean_md5) per corpus doc.
    *
    * Scale shape (100 TB): the eval side is tiny and broadcasts as
    * 64-bit hashes; the corpus is read once, its gram stream joins
    * map-side, and only contaminated docs reach the covered-index
    * aggregation. Callers' oracles count the gram STRINGS, so an
    * xxhash64 collision surfaces as a hash mismatch, never a silent
    * wrong excision. */
  def evalSpanExcise(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, minLen: Int = 8): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= minLen)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("w")) - minLen),
        i => xxhash64(array_join(
          slice(col("w"), i + lit(1), lit(minLen)), " ")))))
      .toDF(idCol, "pos", "gh")
    val evalGrams = grams(evalSet).select(col("gh")).distinct()
    val covered = grams(corpus).join(broadcast(evalGrams), "gh")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1)))
          .as("idx"))
      .distinct()
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("cov"))
    corpus.select(col(idCol), split(col(textCol), " ").as("w"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(filter(col("w"),
          (_, i) => !array_contains(
            coalesce(col("cov"), array().cast("array<int>")), i)),
          " ")).as("clean_md5"))
      .orderBy(col(idCol))
  }

  /** Shared front of the span family: tokenized docs plus the DISTINCT
    * (id, idx) token positions covered by some duplicated minLen-token
    * window. The counting shuffle moves xxhash64 longs; only documents
    * containing duplicated windows reach the covered stream. */
  private def coveredPositions(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("w"))
    val pos = toks.filter(size(col("w")) >= minLen)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("w")) - minLen),
        i => xxhash64(array_join(
          slice(col("w"), i + lit(1), lit(minLen)), " ")))))
      .toDF(idCol, "pos", "gh")
    val dupHashes = pos.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("gh"))
    val covered = pos.join(dupHashes, "gh")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1)))
          .as("idx"))
      .distinct()
    (toks, covered)
  }

  /** Per-document duplicated-token counts only — the counting front of
    * [[spanExcise]] without the text reconstruction (no collect_set, no
    * md5, no HOF filter): what a duplication-rate AUDIT needs. Returns
    * (idCol, n_tokens, n_removed). */
  def spanCounts(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 8): DataFrame = {
    val (toks, covered) = coveredPositions(docs, idCol, textCol, minLen)
    val ncov = covered.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_removed"))
    toks.join(ncov, Seq(idCol), "left")
      .select(col(idCol),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Maximal duplicated spans per document — the intervals
    * [[spanExcise]] removes, reported explicitly: contiguous runs of
    * covered token positions merged gaps-and-islands style (idx −
    * row_number over the per-doc position order is constant within a
    * run), each with its start, length, and content md5. The window
    * runs over the covered positions ONLY (≤ tokens/doc per affected
    * doc), never the corpus token stream. */
  def spanIntervals(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 8): DataFrame = {
    val (toks, covered) = coveredPositions(docs, idCol, textCol, minLen)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("idx"))
    val spans = covered
      .withColumn("grp", col("idx") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("idx")).as("span_start"),
        count(lit(1)).as("span_len"))
    spans.join(toks, Seq(idCol))
      .select(col(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_len").cast("long").as("span_len"),
        md5(array_join(
          slice(col("w"), col("span_start") + lit(1),
            col("span_len").cast("int")), " ")).as("span_md5"))
      .orderBy(col(idCol), col("span_start"))
  }

  /** Per-document n-gram Jaccard summary: best partner + max Jaccard. */
  def ngramJaccardSummary(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxDf: Int = 10): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, maxDf)
    val sym = symmetrize(pairs, Some("jaccard"))
    val perDoc = sym.groupBy(col("id")).agg(
      round(max(col("jaccard")), 4).as("max_jaccard"),
      count(lit(1)).as("n_candidates"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
  }
}
