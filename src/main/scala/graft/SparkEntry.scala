package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.BpeOps
import graft.queries.{Query, Sql}
import graft.queries.Shared.t

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is declared once, as a [[graft.queries.Query]] in the
  * module of its family under `graft.queries` (reference parity, joins,
  * sorts/windows, text, dedup, TPC-H, TPC-H over derived columns, joins
  * beyond built-ins, similarity search, events, multimodal). A query
  * carries its Spark body and its oracle: DuckDB SQL that is
  * hash-checked against the Spark result on the same parquet, or a
  * rows-only reason. [[queries]] and [[oracleSql]] are derived from
  * that registry.
  *
  * Determinism rules applied throughout (SURVEY §7.4 item 5):
  *   - every query ends in a total ORDER BY (row order must match);
  *   - money sums go through DecimalType(18,s) so they are exact and
  *     shuffle-order-independent, then cast back to double;
  *   - all computed columns are aliased identically in Spark and SQL.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_agg")(spark, "/root/testdata/sf0.001")

  /** Every declared query by name. Signature: (session, sfDir) => DataFrame.
    * Building this map evaluates no oracle text. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL for every query that has one — same tables, same
    * column aliases, same ORDER BY. `{{...}}` placeholders are filled
    * from [[oracleParams]] at dump time. */
  def oracleSql: Map[String, String] =
    Query.all.collect { case Query(name, _, sql: Sql) => name -> sql.text }
      .toMap

  /** Deterministic trained-model literals for the {{...}} placeholders
    * in [[oracleSql]], computed at Verify-dump time on the SAME sfDir
    * the queries ran on. Every value is a bit-deterministic function
    * of the corpus (decimal-summed IRLS; integer-moment PCA with a
    * fixed Jacobi sweep), and `Double.toString` round-trips — so the
    * dumped SQL holds literally the doubles the Spark query used. */
  def oracleParams(s: SparkSession, d: String): Map[String, String] = {
    val beta = ops.QualityClassifierOps.cachedTrain(s,
      s"$d/documents.parquet",
      ops.QualityClassifierOps.featurize(t(s, d, "documents"),
        col("text")).localCheckpoint())
    val qc = beta.zipWithIndex.map { case (b, i) =>
      s"QC_B$i" -> b.toString }.toMap
    // one k=32 fit serves both PCA oracles: the Jacobi sweep and
    // per-axis sign fixing are k-independent, so axes 1..8 are
    // exactly the k=8 model ann_pca trains
    val model = ops.PcaOps.fit(t(s, d, "embeddings"), "embedding", 64, 32)
    val axes = model.basis.zipWithIndex.flatMap { case (axis, i) =>
      val axisF = axis.map(_.toFloat)
      val offset = axisF.zip(model.mean)
        .map { case (a, m) => a * m }.sum
      Seq(
        s"PCA_AXIS_${i + 1}" ->
          axisF.map(_.toDouble.toString).mkString("[", ", ", "]"),
        s"PCA_OFF_${i + 1}" -> offset.toString)
    }.toMap
    // Spark's round() on doubles is BigDecimal HALF_UP — replicate
    // driver-side so the embedded literal IS the query's output value
    val varTopk = BigDecimal(model.explained.take(8).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble.toString
    // the deterministic nlist=8 IVF model the ann_ivf/_index queries
    // train (cachedIvf shares buildIvf's exact arithmetic)
    val ivf = ops.AnnOps.buildIvf(t(s, d, "embeddings"), "vec_id",
      "embedding", nlist = 8)
    val cents = ivf.centroids.zipWithIndex.map { case (cvec, i) =>
      s"IVF_C${i + 1}" ->
        cvec.map(_.toDouble.toString).mkString("[", ", ", "]")
    }.toMap
    // the deterministic m=8/k=64 PQ codebooks, flattened to the
    // (mi, cid, cw, nrm) VALUES rows of the ADC oracle — norms are
    // the exact driver doubles booksDf computes
    val pq = ops.AnnOps.buildPq(t(s, d, "embeddings"), "vec_id",
      "embedding", m = 8, k = 64)
    val bookRows = (for {
      (book, mi) <- pq.codebooks.zipWithIndex
      (cw, cid) <- book.zipWithIndex
    } yield {
      val nrm = cw.map(x => x.toDouble * x.toDouble).sum
      s"($mi, $cid, ${cw.map(_.toDouble.toString)
        .mkString("[", ", ", "]")}, $nrm)"
    }).mkString(",\n    ")
    // the trained WordPiece vocabulary (bit-deterministic BigInt
    // likelihood-ratio merges), one quoted VALUES row per piece
    val wp = ops.WordPieceOps.cachedTrain(s, s"$d/documents.parquet",
      t(s, d, "documents"), col("text"), numMerges = 64)
    val wpRows = wp.vocab
      .map(p => s"('${p.replace("'", "''")}')").mkString(",\n    ")
    // the trained BPE merge table as a DuckDB MAP literal
    // ('left right' -> rank): the oracle replays greedy
    // lowest-rank-pair encoding from these exact merges
    val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet",
      t(s, d, "documents"), col("text"), numMerges = 64)
    val bpeMap = "MAP {" + bpe.lefts.zip(bpe.rights).zipWithIndex
      .map { case ((l, r), i) =>
        s"'${(l + " " + r).replace("'", "''")}': $i" }
      .mkString(", ") + "}"
    // the trained unigram vocabulary as a piece -> log-prob MAP with
    // the model's exact doubles (Double.toString round-trips), plus
    // the Viterbi window bound
    val uni = ops.UnigramOps.cachedTrain(s, s"$d/documents.parquet",
      t(s, d, "documents"), col("text"), vocabSize = 128)
    val uniMap = "MAP {" + uni.pieces.zip(uni.logProbs)
      .map { case (p, lp) =>
        s"'${p.replace("'", "''")}': ${lp.toString}" }
      .mkString(", ") + "}"
    val uniMaxLen =
      if (uni.pieces.isEmpty) 1 else uni.pieces.map(_.length).max
    // the trained langid Naive Bayes: bigram micro-unit log-prob rows
    // + per-class defaults and priors, all integers (StrictMath on the
    // driver, quantized before any engine sees them) — the oracle
    // replays scoring with the exact model the Spark query used
    val nb = ops.LangIdOps.train(s,
      t(s, d, "documents").select(col("doc_id"), col("lang"),
        ops.LangIdOps.derivedText(col("text"), col("lang"),
          col("doc_id")).as("text2")))
    val langid = Map("LANGID_ROWS" -> ops.LangIdOps.rowsSql(nb)) ++
      nb.defaults.zipWithIndex.map { case (v, i) =>
        s"LANGID_DEF_$i" -> v.toString } ++
      nb.priors.zipWithIndex.map { case (v, i) =>
        s"LANGID_PRIOR_$i" -> v.toString }
    qc ++ axes ++ cents ++ langid +
      ("PCA_VAR" -> varTopk) + ("PQ_BOOK_ROWS" -> bookRows) +
      ("WP_VOCAB_ROWS" -> wpRows) + ("BPE_RANK_MAP" -> bpeMap) +
      ("UNI_LP_MAP" -> uniMap) + ("UNI_MAXLEN" -> uniMaxLen.toString)
  }
}
