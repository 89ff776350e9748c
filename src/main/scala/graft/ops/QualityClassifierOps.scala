package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-based document quality filtering: a logistic-regression
  * scorer trained ON the corpus to reproduce the Gopher-style rule
  * verdict — the classifier-based curation stage of public LLM data
  * pipelines (CCNet's fastText quality model, the LLaMA corpus
  * filters), reduced to its Spark-shaped core: hand features, a
  * linear model, distributed training via exactly-reproducible
  * aggregates.
  *
  * Training is IRLS (iteratively reweighted least squares — the
  * textbook Newton method for logistic regression): each iteration is
  * ONE distributed aggregate computing the 6×6 weighted Gram matrix
  * XᵀWX and gradient Xᵀ(y−μ), and the driver solves the 6×6 system.
  * Every per-row term is ROUNDED to 9 decimals and summed as
  * DECIMAL(38,12) — the dsum discipline — so the sufficient
  * statistics are bit-identical under ANY partitioning, which makes
  * the learned coefficients (and every downstream score) fully
  * deterministic: same corpus, same model, any cluster layout.
  * QualityClassifierSpec proves beta == a driver-side reference IRLS
  * to the last bit and repartition-invariance.
  *
  * Scale: per-iteration cost is one scan + a 27-cell aggregate —
  * nothing row-shaped shuffles. At 100 TB you train on a deterministic
  * hash-sample (the knuthBucket pattern) and score the full corpus
  * with the broadcast coefficients; scoring is a map-side expression.
  */
object QualityClassifierOps {

  val NumFeatures = 6
  private val Iters = 8
  private val Ridge = 1e-6 // solver stability on collinear features
  private val TermScale = 9 // per-row terms rounded here before dsum

  /** Feature columns f0..f5 (f0 = bias) + the rule label, from the
    * same metrics as q_gopher_quality; features are rounded so both
    * engines and the spec reference see identical doubles. */
  def featurize(docs: DataFrame, text: Column): DataFrame = {
    val words = split(text, " ")
    val nWords = size(words).cast("bigint")
    val meanLen = round(
      aggregate(transform(words, w => length(w).cast("bigint")), lit(0L),
        (acc, x) => acc + x).cast("double") / nWords, 4)
    val alphaRatio = round(
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double")
        / nWords, 4)
    val symbolRatio = round(
      regexp_count(text, lit("#|\\.\\.\\.")).cast("double") / nWords, 4)
    val stopCnt = regexp_count(text, lit("\\b(the|a)\\b")).cast("bigint")
    val pass = (nWords.between(10L, 100000L) &&
      meanLen.between(2.0, 12.0) && alphaRatio >= 0.6 &&
      symbolRatio <= 0.1 && stopCnt >= 1L).cast("int")
    docs.select(col("doc_id"), col("lang"),
      lit(1.0).as("f0"),
      round(log1p(nWords.cast("double")), 6).as("f1"),
      coalesce(meanLen, lit(0.0)).as("f2"),
      coalesce(alphaRatio, lit(0.0)).as("f3"),
      coalesce(symbolRatio, lit(0.0)).as("f4"),
      round(log1p(stopCnt.cast("double")), 6).as("f5"),
      pass.as("label"))
  }

  private def feat(i: Int): Column = col(s"f$i")

  /** z = x·beta as a column (beta enters as literals — broadcast by
    * construction, evaluated map-side in codegen). */
  private def zCol(beta: Array[Double]): Column =
    (0 until NumFeatures).map(i => feat(i) * lit(beta(i)))
      .reduce(_ + _)

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** One IRLS iteration's sufficient statistics: upper-triangle XᵀWX
    * (21 cells) and Xᵀ(y−μ) (6 cells), each an order-independent
    * decimal sum of rounded per-row terms.
    *
    * beta enters as DATA — a broadcast one-row frame cross-joined to
    * the features — not as `lit(...)` constants: literals are baked
    * into the generated code, so an 8-iteration training run with
    * per-iteration literals compiles 8 distinct 27-aggregate codegen
    * units (measured: the Janino compiles, not the 5k-row scans,
    * dominated `pipeline_quality_classifier`'s wall time). With beta
    * as join data the codegen source is identical every iteration and
    * the plan compiles once. The arithmetic is unchanged — the same
    * IEEE doubles flow through the same expressions — so the learned
    * coefficients are bit-identical (QualityClassifierSpec's
    * driver-reference equality gate holds). */
  private def sufficientStats(feats: DataFrame,
      beta: Array[Double]): (Array[Array[Double]], Array[Double]) = {
    val spark = feats.sparkSession
    val betaDf = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(beta.toSeq)),
      org.apache.spark.sql.types.StructType((0 until NumFeatures).map(i =>
        org.apache.spark.sql.types.StructField(s"b$i",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val zData = (0 until NumFeatures).map(i => feat(i) * col(s"b$i"))
      .reduce(_ + _)
    val mu = sigmoid(zData)
    val w = mu * (lit(1.0) - mu)
    val aggs = (for {
      i <- 0 until NumFeatures
      j <- i until NumFeatures
    } yield sum(round(w * feat(i) * feat(j), TermScale)
      .cast(DecimalType(38, 12))).as(s"h_${i}_$j")) ++
      (0 until NumFeatures).map(i =>
        sum(round((col("label") - mu) * feat(i), TermScale)
          .cast(DecimalType(38, 12))).as(s"g_$i"))
    val row = feats.crossJoin(broadcast(betaDf))
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    val h = Array.ofDim[Double](NumFeatures, NumFeatures)
    var c = 0
    for (i <- 0 until NumFeatures; j <- i until NumFeatures) {
      val v = row.getDecimal(c).doubleValue()
      h(i)(j) = v; h(j)(i) = v
      c += 1
    }
    val g = (0 until NumFeatures)
      .map(i => row.getDecimal(c + i).doubleValue()).toArray
    (h, g)
  }

  /** Gauss elimination with partial pivoting — deterministic. */
  private[ops] def solve(a0: Array[Array[Double]],
      b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    for (k <- 0 until n) {
      var p = k
      for (r <- k + 1 until n) if (math.abs(a(r)(k)) > math.abs(a(p)(k))) p = r
      val tmp = a(k); a(k) = a(p); a(p) = tmp
      val tb = b(k); b(k) = b(p); b(p) = tb
      for (r <- k + 1 until n) {
        val f = a(r)(k) / a(k)(k)
        for (cc <- k until n) a(r)(cc) -= f * a(k)(cc)
        b(r) -= f * b(k)
      }
    }
    val x = new Array[Double](n)
    for (k <- n - 1 to 0 by -1) {
      var s = b(k)
      for (cc <- k + 1 until n) s -= a(k)(cc) * x(cc)
      x(k) = s / a(k)(k)
    }
    x
  }

  /** Train the scorer: `Iters` IRLS steps from beta = 0. */
  def train(feats: DataFrame): Array[Double] = {
    var beta = new Array[Double](NumFeatures)
    for (_ <- 0 until Iters) {
      val (h, g) = sufficientStats(feats, beta)
      for (i <- 0 until NumFeatures) h(i)(i) += Ridge
      val delta = solve(h, g)
      beta = beta.zip(delta).map { case (b, d) => b + d }
    }
    beta
  }

  /** [[train]] behind the artifact store
    * ([[StorageOps.cachedRows]]): the learned coefficients are a
    * bit-deterministic function of the corpus, and `Double.toString`
    * round-trips, so the persisted beta is byte-for-byte the one a
    * fresh IRLS run would produce — queries that CONSUME the
    * classifier (curriculum scheduling, curation scoring) skip the 8
    * training scans, while `pipeline_quality_classifier` itself keeps
    * exercising the full training path. */
  def cachedTrain(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, feats: => DataFrame): Array[Double] =
    StorageOps.cachedRows(spark, srcPath, "qclf")(
      train(feats).toSeq.map(_.toString))
      .filter(_.nonEmpty).map(_.toDouble).toArray

  /** Probability-of-quality score column under trained `beta`. */
  def score(beta: Array[Double]): Column = sigmoid(zCol(beta))
}
