package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{WordPieceFunctions, WordPieceModel}

/** WordPiece training and application over a corpus column — the
  * third trained tokenizer family next to [[BpeOps]] (BPE) and
  * [[UnigramOps]] (unigram LM), sharing the SAME one-pass distributed
  * word-type-count aggregate; only the driver-side merge objective
  * differs. Where BPE merges the most FREQUENT adjacent pair,
  * WordPiece merges the pair maximizing the likelihood ratio
  * score(l, r) = count(lr) / (count(l) · count(r)) — the merge that
  * most increases a unigram LM's corpus likelihood (Schuster &
  * Nakajima 2012; the scheme BERT's vocabulary was trained with).
  *
  * Determinism: scores are FRACTIONS OF EXACT LONG COUNTS compared by
  * BigInt cross-multiplication — never a floating-point ratio — so
  * argmax selection is bit-exact on any platform; ties break by
  * lexicographic (left, right), and the initial alphabet is sorted.
  * The same corpus yields the same model on any cluster layout.
  *
  * Scale: identical to BPE — the data-sized work is ONE distributed
  * count pass over word types (capped at `maxTypes` by mass); merge
  * learning is O(types × merges × word-length) driver-side over the
  * compact dict, independent of corpus size. Encoding is the
  * codegen'd [[graft.functions.WordPieceEncode]] — a map-side scan
  * transform carrying the kilobyte model as a task reference.
  */
object WordPieceOps {

  /** Learn a WordPiece vocabulary from a (word-type, count) dict —
    * driver-side, deterministic. Returns the model whose vocab is the
    * sorted initial alphabet (bare first-char pieces + "##"
    * continuations) followed by merged pieces in learned order, with
    * the unk token first. Stops early when no pair occurs twice. */
  def trainVocab(wordCounts: Array[(String, Long)],
      numMerges: Int): WordPieceModel = {
    var vocab: Array[(Array[String], Long)] = wordCounts.map { case (w, n) =>
      val syms = new Array[String](w.length)
      var i = 0
      while (i < w.length) {
        syms(i) = (if (i == 0) "" else "##") + w.charAt(i)
        i += 1
      }
      (syms, n)
    }
    val alphabet = vocab.iterator.flatMap(_._1).toArray.distinct.sorted
    val merged = mutable.ArrayBuffer[String]()
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pairCounts = mutable.HashMap[(String, String), Long]()
      val symCounts = mutable.HashMap[String, Long]()
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length) {
          symCounts.update(syms(i), symCounts.getOrElse(syms(i), 0L) + n)
          if (i < syms.length - 1) {
            val p = (syms(i), syms(i + 1))
            pairCounts.update(p, pairCounts.getOrElse(p, 0L) + n)
          }
          i += 1
        }
      }
      // argmax of count(lr) / (count(l)·count(r)) by EXACT cross-
      // multiplied comparison; ties by (left, right) lexicographic
      var best: (String, String) = null
      var bestNum = BigInt(0)
      var bestDen = BigInt(1)
      var bestN = 0L
      pairCounts.toSeq.sortBy(_._1).foreach { case ((l, r), n) =>
        val num = BigInt(n)
        val den = BigInt(symCounts(l)) * BigInt(symCounts(r))
        if (best == null || num * bestDen > bestNum * den) {
          best = (l, r); bestNum = num; bestDen = den; bestN = n
        }
      }
      if (best == null || bestN < 2) exhausted = true
      else {
        val mergedSym = best._1 + best._2.stripPrefix("##")
        merged += mergedSym
        vocab = vocab.map { case (syms, n) =>
          if (syms.length < 2) (syms, n)
          else {
            val next = mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 &&
                syms(i + 1) == best._2) {
                next += mergedSym
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
    new WordPieceModel(("[UNK]" +: alphabet) ++ merged)
  }

  /** Train on the corpus itself: the SHARED distributed type-count
    * pass ([[BpeOps.wordTypeCounts]]) + the driver merge loop. */
  def train(docs: DataFrame, text: Column, numMerges: Int,
      maxTypes: Int = 100000): WordPieceModel =
    trainVocab(BpeOps.wordTypeCounts(docs, text, maxTypes), numMerges)

  /** WordPiece tokens of `text` under `model` (codegen'd map-side
    * expression; see [[graft.functions.WordPieceEncode]]). */
  def encode(text: Column, model: WordPieceModel): Column =
    WordPieceFunctions.wordpieceEncode(text, model)

  /** [[train]] behind the artifact store
    * ([[StorageOps.cachedRows]]). Line format: one vocabulary piece per
    * line, in model order (pieces never contain whitespace). */
  def cachedTrain(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, docs: DataFrame, text: Column, numMerges: Int,
      maxTypes: Int = 100000): WordPieceModel = {
    val rows = StorageOps.cachedRows(spark, srcPath,
      s"wordpiece_${numMerges}_$maxTypes")(
      train(docs, text, numMerges, maxTypes).vocab.toSeq)
    new WordPieceModel(rows.filter(_.nonEmpty).toArray)
  }

  /** Reference single-string encode for tests. */
  def encodeString(text: String, model: WordPieceModel): Seq[String] = {
    val words = graft.functions.BpeKernels.preTokenize(text)
    words.toSeq.flatMap(w =>
      graft.functions.WordPieceKernels.encodeWord(w, model))
  }
}
