package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{UnigramFunctions, UnigramKernels, UnigramModel}

/** Unigram-LM tokenizer training (Kudo '18 — the SentencePiece unigram
  * model; public paper, independent implementation) — the second
  * trained tokenizer family next to [[BpeOps]], sharing its split of
  * labor: ONE distributed word-type-count pass (the identical
  * [[BpeOps.wordTypeCounts]] aggregate, so both tokenizers train from
  * the same compact dict), then a driver loop over the maxTypes-bounded
  * type dictionary — corpus-size-independent, like every model-fit op
  * in this library.
  *
  * Training is Viterbi-EM (the standard hard-EM variant): seed the
  * vocabulary with the most frequent substrings of the word types,
  * then alternate (E) Viterbi-segment every word type under the
  * current piece probabilities, accumulating EXACT LONG piece counts
  * weighted by word frequency, and (M) renormalize. Pieces that go
  * unused are dropped each round; single characters are floored at
  * count 1 so every string stays encodable. The final vocabulary keeps
  * all single characters plus the top multi-character pieces by
  * (count DESC, piece) — every ordering in the loop is total, so the
  * trained model is deterministic.
  */
object UnigramOps {

  /** `softEm = true` runs the full Kudo E-step (forward-backward
    * marginal piece expectations over the segmentation lattice,
    * [[UnigramKernels.expectedCounts]]) instead of hard Viterbi
    * counts. Expectations are doubles, but the loop is driver-side
    * single-threaded over the totally-ordered type dict, so the
    * trained model is still deterministic; the hard-EM default keeps
    * EXACT LONG counts, which is why it remains the default for the
    * declared artifact queries. */
  def trainFromCounts(wordCounts: Array[(String, Long)], vocabSize: Int,
      maxPieceLen: Int = 6, emIters: Int = 4,
      softEm: Boolean = false,
      lossPrune: Boolean = false): UnigramModel = {
    require(vocabSize >= 1, "vocabSize must be positive")
    require(!lossPrune || softEm, "lossPrune requires softEm")
    if (softEm)
      return trainSoft(wordCounts, vocabSize, maxPieceLen, emIters,
        lossPrune)
    // seed: substring counts over the type dict, weighted by frequency
    val substr = mutable.HashMap[String, Long]()
    wordCounts.foreach { case (w, n) =>
      var i = 0
      while (i < w.length) {
        var L = 1
        while (L <= math.min(maxPieceLen, w.length - i)) {
          val p = w.substring(i, i + L)
          substr.update(p, substr.getOrElse(p, 0L) + n)
          L += 1
        }
        i += 1
      }
    }
    val chars = substr.keysIterator.filter(_.length == 1).toArray.sorted
    val seedSize = math.max(vocabSize * 4, vocabSize + chars.length)
    val seed: Array[(String, Long)] = {
      val multi = substr.iterator.filter(_._1.length > 1).toArray
        .sortBy { case (p, n) => (-n, p) }
        .take(seedSize - chars.length)
      (chars.map(c => c -> substr(c)) ++ multi)
    }
    var pieces = seed.map(_._1)
    var counts = seed.map(_._2)
    var iter = 0
    while (iter <= emIters) {
      if (iter == emIters) return prune(pieces, counts, chars, vocabSize)
      // E-step: exact long expected counts under PORTABLE Viterbi
      // segmentation (probability-space IEEE products, no libm — see
      // UnigramKernels.viterbiPortable). Counts are exact longs and
      // every comparison is engine-portable, which is what lets the
      // text_unigram_train DuckDB oracle re-run this whole loop from
      // the raw corpus.
      val total = counts.sum.toDouble
      val cmap = new java.util.HashMap[String, java.lang.Long](
        pieces.length * 2)
      var ci = 0
      while (ci < pieces.length) {
        cmap.put(pieces(ci), counts(ci)); ci += 1
      }
      val next = mutable.HashMap[String, Long]()
      wordCounts.foreach { case (w, n) =>
        val segs = UnigramKernels.viterbiPortable(w, cmap, total,
          maxPieceLen)
        var i = 0
        while (i < segs.length) {
          next.update(segs(i), next.getOrElse(segs(i), 0L) + n)
          i += 1
        }
      }
      chars.foreach { c => if (!next.contains(c)) next(c) = 1L }
      val kept = next.toArray.sortBy { case (p, n) => (-n, p) }
      pieces = kept.map(_._1)
      counts = kept.map(_._2)
      iter += 1
    }
    prune(pieces, counts, chars, vocabSize) // unreachable; for the compiler
  }

  /** The soft-EM variant: identical seeding, but the E-step uses the
    * forward-backward marginal expectations (fractional counts). The
    * accumulation loop is driver-side, single-threaded, over the
    * totally-ordered type dict, so the model is deterministic — just
    * not integer-exact like the hard-EM default. */
  private def trainSoft(wordCounts: Array[(String, Long)], vocabSize: Int,
      maxPieceLen: Int, emIters: Int,
      lossPrune: Boolean = false): UnigramModel = {
    val substr = mutable.HashMap[String, Long]()
    wordCounts.foreach { case (w, n) =>
      var i = 0
      while (i < w.length) {
        var L = 1
        while (L <= math.min(maxPieceLen, w.length - i)) {
          val p = w.substring(i, i + L)
          substr.update(p, substr.getOrElse(p, 0L) + n)
          L += 1
        }
        i += 1
      }
    }
    val chars = substr.keysIterator.filter(_.length == 1).toArray.sorted
    val seedSize = math.max(vocabSize * 4, vocabSize + chars.length)
    val seed: Array[(String, Double)] = {
      val multi = substr.iterator.filter(_._1.length > 1).toArray
        .sortBy { case (p, n) => (-n, p) }
        .take(seedSize - chars.length)
      (chars.map(c => c -> substr(c)) ++ multi)
        .map { case (p, n) => p -> n.toDouble }
    }
    var pieces = seed.map(_._1)
    var counts = seed.map(_._2)
    var iter = 0
    while (iter <= emIters) {
      val total = counts.sum
      val logProbs = counts.map(c => math.log(c / total))
      val model = new UnigramModel(pieces, logProbs)
      if (iter == emIters) {
        return if (lossPrune)
          pruneByLoss(pieces, counts, chars, vocabSize, wordCounts)
        else pruneSoft(pieces, counts, chars, vocabSize)
      }
      val next = mutable.HashMap[String, Double]()
      wordCounts.foreach { case (w, n) =>
        UnigramKernels.expectedCounts(w, model, n.toDouble, next)
      }
      chars.foreach { c =>
        if (next.getOrElse(c, 0.0) <= 0.0) next(c) = 1.0
      }
      val kept = next.iterator.filter(_._2 > 1e-9).toArray
        .sortBy { case (p, n) => (-n, p) }
      pieces = kept.map(_._1)
      counts = kept.map(_._2)
      iter += 1
    }
    pruneSoft(pieces, counts, chars, vocabSize)
  }

  /** Likelihood-loss pruning (the Kudo '18 criterion, applied the way
    * the paper does — ITERATIVELY): repeatedly drop the ~20% of
    * multi-char pieces whose removal costs the corpus Viterbi
    * likelihood the least — loss(p) = Σ_w freq(w)·(score(w) −
    * score(w | p masked)) — then refresh expectations with one soft
    * E-step before measuring again, until the multi-char budget is
    * reached. One-shot mass pruning with single-removal losses
    * over-prunes (losses are marginal, not joint); the 20%-per-round
    * schedule keeps the estimate honest. A piece on no best path has
    * loss 0 and prunes first. Ties break by (count DESC, piece) —
    * total order, deterministic. */
  private def pruneByLoss(pieces0: Array[String], counts0: Array[Double],
      chars: Array[String], vocabSize: Int,
      wordCounts: Array[(String, Long)]): UnigramModel = {
    var pieces = pieces0
    var counts = counts0
    val multiBudget = math.max(0, vocabSize - chars.length)
    def build(): UnigramModel = {
      val total = counts.sum
      new UnigramModel(pieces, counts.map(c => math.log(c / total)))
    }
    var model = build()
    var nMulti = pieces.count(_.length > 1)
    while (nMulti > multiBudget) {
      val byPiece = pieces.zip(counts).toMap
      val loss = mutable.HashMap[String, Double]()
      wordCounts.foreach { case (w, n) =>
        val score = UnigramKernels.viterbiScore(w, model, null)
        UnigramKernels.viterbi(w, model).distinct
          .filter(_.length > 1).foreach { p =>
            val without = UnigramKernels.viterbiScore(w, model, p)
            loss.update(p, loss.getOrElse(p, 0.0) + n * (score - without))
          }
      }
      val keepCount = math.max(multiBudget,
        nMulti - math.max(1, (nMulti * 0.2).toInt))
      val keptMulti = pieces.filter(_.length > 1)
        .map(p => (p, loss.getOrElse(p, 0.0), byPiece(p)))
        .sortBy { case (p, l, c) => (-l, -c, p) }
        .take(keepCount).map(_._1).toSet
      val filtered = pieces.zip(counts).filter { case (p, _) =>
        p.length == 1 || keptMulti.contains(p)
      }
      pieces = filtered.map(_._1)
      counts = filtered.map(_._2)
      // E-step refresh: let the surviving pieces reabsorb the mass
      model = build()
      val next = mutable.HashMap[String, Double]()
      wordCounts.foreach { case (w, n) =>
        UnigramKernels.expectedCounts(w, model, n.toDouble, next)
      }
      chars.foreach { c =>
        if (next.getOrElse(c, 0.0) <= 0.0) next(c) = 1.0
      }
      val kept = next.iterator.filter(_._2 > 1e-9).toArray
        .sortBy { case (p, n) => (-n, p) }
      pieces = kept.map(_._1)
      counts = kept.map(_._2)
      model = build()
      nMulti = pieces.count(_.length > 1)
    }
    pruneSoft(pieces, counts, chars, vocabSize)
  }

  private def pruneSoft(pieces: Array[String], counts: Array[Double],
      chars: Array[String], vocabSize: Int): UnigramModel = {
    val byPiece = pieces.zip(counts).toMap
    val multiBudget = math.max(0, vocabSize - chars.length)
    val multi = pieces.zip(counts).filter(_._1.length > 1)
      .sortBy { case (p, n) => (-n, p) }
      .take(multiBudget)
    val kept = (multi ++ chars.map(c => c -> byPiece.getOrElse(c, 1.0)))
      .sortBy { case (p, n) => (-n, p) }
    val total = kept.map(_._2).sum
    new UnigramModel(kept.map(_._1),
      kept.map(e => math.log(e._2 / total)))
  }

  private def prune(pieces: Array[String], counts: Array[Long],
      chars: Array[String], vocabSize: Int): UnigramModel = {
    val byPiece = pieces.zip(counts).toMap
    val multiBudget = math.max(0, vocabSize - chars.length)
    val multi = pieces.zip(counts).filter(_._1.length > 1)
      .sortBy { case (p, n) => (-n, p) }
      .take(multiBudget)
    val kept = (multi ++ chars.map(c => c -> byPiece.getOrElse(c, 1L)))
      .sortBy { case (p, n) => (-n, p) }
    val total = kept.map(_._2).sum.toDouble
    new UnigramModel(kept.map(_._1),
      kept.map(e => math.log(e._2 / total)))
  }

  /** Train on the corpus: the one distributed type-count pass (shared
    * with BPE) + the driver Viterbi-EM loop. */
  def train(docs: DataFrame, text: Column, vocabSize: Int,
      maxTypes: Int = 100000, maxPieceLen: Int = 6,
      emIters: Int = 4): UnigramModel =
    trainFromCounts(BpeOps.wordTypeCounts(docs, text, maxTypes),
      vocabSize, maxPieceLen, emIters)

  /** [[train]] behind the artifact store
    * ([[StorageOps.cachedRows]]). Line format: raw IEEE-754 bits of the
    * log-prob, a space, the piece — exact round-trip, and pieces never
    * contain whitespace (they are pre-token substrings). */
  def cachedTrain(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, docs: DataFrame, text: Column, vocabSize: Int,
      maxTypes: Int = 100000): UnigramModel = {
    val rows = StorageOps.cachedRows(spark, srcPath,
      s"uni_${vocabSize}_$maxTypes") {
      val m = train(docs, text, vocabSize, maxTypes)
      m.pieces.zip(m.logProbs).toSeq.map { case (p, lp) =>
        java.lang.Long.toHexString(
          java.lang.Double.doubleToRawLongBits(lp)) + " " + p
      }
    }
    val entries = rows.filter(_.nonEmpty).map { line =>
      val i = line.indexOf(' ')
      (line.substring(i + 1),
        java.lang.Double.longBitsToDouble(
          java.lang.Long.parseUnsignedLong(line.substring(0, i), 16)))
    }
    new UnigramModel(entries.map(_._1).toArray, entries.map(_._2).toArray)
  }

  /** Viterbi pieces of `text` under `model` (codegen'd map-side
    * expression; see [[graft.functions.UnigramEncode]]). */
  def encode(text: Column, model: UnigramModel): Column =
    UnigramFunctions.unigramEncode(text, model)

  /** Reference single-string encode for tests. */
  def encodeString(text: String, model: UnigramModel): Seq[String] = {
    val words = graft.functions.BpeKernels.preTokenize(text)
    words.toSeq.flatMap(w => UnigramKernels.viterbi(w, model))
  }
}
