package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data selection for LM training corpora. Beyond-reference extension
  * (the reference — athultr1997/rust-query-engine — has no text
  * surface at all; this is the SURVEY §2.5 LLM-pipeline family).
  *
  * DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling"): score every raw
  * document by how much more likely its hashed-token profile is under
  * a TARGET distribution (a small trusted slice — wiki, curated En)
  * than under the RAW distribution, then keep the top-weighted docs.
  * The published method fits bag-of-hashed-ngram models on both sides
  * and resamples by the log-likelihood ratio; this implementation
  * keeps exactly that estimator shape (hash buckets, add-1 smoothing,
  * per-token log ratio) with the engine disciplines that make it
  * oracle-checkable: md5-derived bucket ids (engine-portable, no RNG),
  * round-12 → decimal-summed log terms (shuffle-order-proof), and
  * length-normalized weights (otherwise weight ∝ doc length).
  *
  * Scale shape: the bucket model is B rows (B = `buckets`, constant)
  * — it aggregates with a partial+final agg and BROADCASTS back to
  * the token stream; the per-doc weight is one partial+final agg on
  * doc_id. Two passes over the pruned (id, text) projection, nothing
  * token-sized ever shuffles except the bucket-id token stream of the
  * agg itself (map-side combined into ≤ B×partitions rows).
  */
object SelectionOps {

  /** md5-derived hash bucket in [0, buckets) — deterministic and
    * bit-identical in the DuckDB mirror (first 8 md5 hex chars as an
    * integer). */
  def tokenBucket(term: Column, buckets: Int): Column =
    pmod(conv(substring(md5(term.cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(buckets.toLong))

  /** Per-document DSIR importance weight over whitespace tokens of
    * `textCol`: weight(d) = (1/|d|) Σ_{w∈d} ln(p_target(b(w)) /
    * p_raw(b(w))), with add-1 smoothed hashed-unigram models
    * (b = [[tokenBucket]]). `targetPred` marks the target slice
    * (counted under BOTH models — the target is a subset of the raw
    * corpus, as in the paper's raw/target setup). Returns the topK
    * docs by (rounded) weight, doc_id-tiebroken. */
  def dsirTopK(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int, topK: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        targetPred.as("is_target"),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .select(col("doc_id"), col("is_target"),
        tokenBucket(col("term"), buckets).as("b"))
    // bucket model: B rows after the partial+final agg
    val bucketStats = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
    val totals = bucketStats
      .agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    // ONE formula for the log-ratio, mirrored verbatim in SQL: the
    // smoothed ratio collapses to ((ct+1)(Nr+B)) / ((cr+1)(Nt+B)).
    // Each factor is cast to double BEFORE multiplying: long×long
    // would overflow (and, under ANSI, throw) once token counts reach
    // web-corpus scale, and IEEE double mul/div is bit-identical
    // across engines where a long product past 2^53 is not.
    def d(c: Column) = c.cast("double")
    val lr = bucketStats.crossJoin(broadcast(totals))
      .select(col("b"), round(log(
        (d(col("ct") + 1) * d(col("nr") + buckets)) /
          (d(col("cr") + 1) * d(col("nt") + buckets))), 12)
        .cast(DecimalType(28, 14)).as("lr"))
    toks.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lr")).as("w_raw"))
      .select(col("doc_id"), col("n_toks"),
        // double cast BEFORE the divide: the decimal sum is exact, so
        // the cast is deterministic, and IEEE double division is
        // bit-identical across engines where decimal-division
        // precision/scale rules are not
        round(col("w_raw").cast("double") / col("n_toks"), 6)
          .as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(topK)
  }
}
