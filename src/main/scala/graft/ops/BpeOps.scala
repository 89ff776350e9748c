package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BpeFunctions, BpeKernels, BpeModel}

/** Byte-pair-encoding training and application over a corpus column.
  *
  * The split of labor is the one every production BPE trainer uses
  * (Sennrich et al. '16 subword-nmt; same shape as SentencePiece's
  * BPE mode): the DATA-SIZED work — counting word types across the
  * corpus — is one distributed aggregate, and merge learning runs
  * driver-side over the resulting compact (word-type, count) dict,
  * O(types × merges × word-length), independent of corpus size. At
  * 100 TB the type dict is capped at `maxTypes` by mass (top types by
  * count cover the overwhelming share of the token stream; the long
  * tail contributes counts of 1 that cannot win a merge anyway), so
  * driver memory is bounded regardless of corpus vocabulary.
  *
  * Application is [[graft.functions.BpeEncode]]: a codegen'd native
  * expression carrying the kilobyte model as a task reference — a
  * map-side scan transform, nothing corpus-shaped shuffles.
  *
  * Everything is deterministic: the type cut orders by
  * (count DESC, word), and merge selection breaks count ties by
  * (left, right) lexicographically — the same corpus always yields
  * the same model on any cluster layout.
  */
object BpeOps {

  /** Corpus word-type counts under the BPE pre-tokenizer, capped at
    * `maxTypes` by (count DESC, word) — the one distributed pass of
    * training. */
  def wordTypeCounts(docs: DataFrame, text: Column,
      maxTypes: Int): Array[(String, Long)] =
    docs
      .select(explode(regexp_extract_all(text,
        lit(graft.ops.TextOps.BpePattern), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** Learn `numMerges` merges from a (word-type, count) dict —
    * driver-side, deterministic. Each round counts adjacent symbol
    * pairs weighted by word frequency, picks the most frequent pair
    * (ties by lexicographic (left, right)), and rewrites the dict;
    * stops early when no pair occurs twice. */
  def trainMerges(wordCounts: Array[(String, Long)],
      numMerges: Int): BpeModel = {
    var vocab: Array[(Array[String], Long)] = wordCounts.map { case (w, n) =>
      (w.toCharArray.map(String.valueOf), n)
    }
    val lefts = mutable.ArrayBuffer[String]()
    val rights = mutable.ArrayBuffer[String]()
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pairCounts = mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val (best, bestN) = pairCounts.toSeq
          .minBy { case ((l, r), n) => (-n, l, r) }
        if (bestN < 2) exhausted = true
        else {
          lefts += best._1
          rights += best._2
          val merged = best._1 + best._2
          vocab = vocab.map { case (syms, n) =>
            if (syms.length < 2) (syms, n)
            else {
              val next = mutable.ArrayBuffer[String]()
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == best._1 &&
                  syms(i + 1) == best._2) {
                  next += merged
                  i += 2
                } else {
                  next += syms(i)
                  i += 1
                }
              }
              (next.toArray, n)
            }
          }
          round += 1
        }
      }
    }
    new BpeModel(lefts.toArray, rights.toArray)
  }

  /** Train on the corpus itself: one distributed type-count pass +
    * the driver merge loop. */
  def train(docs: DataFrame, text: Column, numMerges: Int,
      maxTypes: Int = 100000): BpeModel =
    trainMerges(wordTypeCounts(docs, text, maxTypes), numMerges)

  /** Subword tokens of `text` under `model` (codegen'd map-side
    * expression; see [[graft.functions.BpeEncode]]). */
  def encode(text: Column, model: BpeModel): Column =
    BpeFunctions.bpeEncode(text, model)

  /** [[train]] behind the artifact store
    * ([[StorageOps.cachedRows]]) — the tokenizer is THE pipeline
    * artifact every training run versions; re-tokenizing with a
    * silently different model is the classic corpus bug, and the
    * content key makes it structurally impossible. Line format: one
    * merge per line, "left right" (symbols never contain whitespace). */
  def cachedTrain(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, docs: DataFrame, text: Column, numMerges: Int,
      maxTypes: Int = 100000): BpeModel = {
    val rows = StorageOps.cachedRows(spark, srcPath,
      s"bpe_${numMerges}_$maxTypes") {
      val m = train(docs, text, numMerges, maxTypes)
      m.lefts.zip(m.rights).toSeq.map { case (l, r) => s"$l $r" }
    }
    val pairs = rows.filter(_.nonEmpty).map { line =>
      val i = line.indexOf(' ')
      (line.substring(0, i), line.substring(i + 1))
    }
    new BpeModel(pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** Reference single-string encode for tests/oracles. */
  def encodeString(text: String, model: BpeModel): Seq[String] = {
    val words = BpeKernels.preTokenize(text)
    words.toSeq.flatMap(w => BpeKernels.encodeWord(w, model))
  }
}
