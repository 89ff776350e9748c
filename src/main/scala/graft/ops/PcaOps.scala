package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MomentsBuffer, PcaMoments, VectorFunctions}

/** Distributed PCA over an `array<float>` embedding column — the
  * dimensionality-reduction stage in front of ANN / clustering /
  * visualization at corpus scale.
  *
  * Split of labor (the only split that scales to 100 TB):
  *   1. ONE distributed aggregate computes the exact second moments
  *      (count, Σx, upper-triangular Σx·xᵀ) in fixed-point longs —
  *      bit-identical under any partitioning, O(d²) bytes per
  *      partition on the wire, vectors never shuffle (PcaMoments).
  *   2. The d×d covariance eigendecomposition runs on the DRIVER via
  *      the classic cyclic Jacobi rotation method (Golub & Van Loan
  *      §8.5 — textbook algorithm, independently implemented): d is a
  *      model constant (64 here, ≤ a few thousand in practice), so
  *      this is microseconds and corpus-size-independent.
  *   3. Projection is map-side only: each principal axis ships as a
  *      float-array literal into the codegen'd DotProduct kernel, so
  *      scan → project stays in one whole-stage-codegen span — the
  *      exact broadcast-the-tiny-model shape used by IVF/BPE/LM ops.
  *
  * Determinism: moments are integer sums (exact), Jacobi is a fixed
  * deterministic sweep order, eigenvalue ties order by original index,
  * every eigenvector's sign is fixed (largest-|component| positive,
  * first on tie), and projections round to `roundDp` — the full
  * pipeline is bit-reproducible under any partitioning.
  */
object PcaOps {

  /** Fitted model: `basis` rows are the top-k orthonormal principal
    * axes (sign-fixed), `eigvals` their variances, sorted descending. */
  case class PcaModel(d: Int, k: Int, n: Long, mean: Array[Double],
      eigvals: Array[Double], basis: Array[Array[Double]],
      totalVar: Double) {
    def explained: Array[Double] = eigvals.map(_ / totalVar)
  }

  /** Decode the one-row moments aggregate: (n, Σx/Scale, full Σx·xᵀ/Scale). */
  def moments(df: DataFrame, vecCol: String, d: Int)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val bytes = df.agg(PcaMoments.moments(col(vecCol), d))
      .head.getAs[Array[Byte]](0)
    val buf = MomentsBuffer.fromBytes(bytes)
    val sums = buf.sums.map(_ / MomentsBuffer.Scale)
    val prods = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = buf.prods(t) / MomentsBuffer.Scale
        prods(i)(j) = v; prods(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }
    (buf.n, sums, prods)
  }

  def fit(df: DataFrame, vecCol: String, d: Int, k: Int): PcaModel =
    fitFromMoments(momentsBytes(df, vecCol, d), k)

  /** Append `pc1..pck` (rounded, mean-centered projections). Map-side
    * only: each axis is a float-array literal into the codegen'd
    * DotProduct; the constant mean offset folds into the subtraction. */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
      roundDp: Int = 6): DataFrame = {
    val comps = model.basis.zipWithIndex.map { case (axis, i) =>
      val axisF = axis.map(_.toFloat)
      // offset computed over the SAME float-truncated axis the
      // executors see, so pc = dot(x, axis) - dot(mean, axis) exactly
      val offset = axisF.zip(model.mean).map { case (a, m) => a * m }.sum
      round(VectorFunctions.dot(col(vecCol),
        lit(axisF)) - lit(offset), roundDp).as(s"pc${i + 1}")
    }
    df.select(col("*") +: comps.toIndexedSeq: _*)
  }

  /** Raw (serialized) moments of one corpus shard — pair with
    * [[mergeMomentsBytes]] for incremental fits. */
  def momentsBytes(df: DataFrame, vecCol: String, d: Int): Array[Byte] =
    df.agg(graft.functions.PcaMoments.moments(col(vecCol), d))
      .head.getAs[Array[Byte]](0)

  /** Merge shard moments EXACTLY: the accumulators are integer sums,
    * so merge-then-fit is bit-identical to fitting the union — the
    * incremental-PCA contract at 100 TB (fit new data's moments only,
    * merge with the persisted artifact; nothing is re-scanned and the
    * model cannot drift from the full recompute). */
  def mergeMomentsBytes(shards: Seq[Array[Byte]]): Array[Byte] = {
    require(shards.nonEmpty, "no shards to merge")
    val acc = graft.functions.MomentsBuffer.fromBytes(shards.head)
    shards.tail.foreach { b =>
      acc.mergeIn(graft.functions.MomentsBuffer.fromBytes(b))
    }
    graft.functions.MomentsBuffer.toBytes(acc)
  }

  /** [[momentsBytes]] behind the artifact store
    * ([[StorageOps.cachedRows]], keyed by caller tag and dimension) —
    * the persisted incremental-PCA flow at 100 TB: each shard's exact
    * integer moments are computed ONCE and stored. A new corpus
    * release fits by merging the persisted artifacts with
    * [[mergeMomentsBytes]] — nothing is re-scanned, and because the
    * accumulators are integer sums, merge-then-fit through the cache
    * is bit-identical to fitting the union (PcaSpec gates the identity
    * THROUGH the cache). Bytes travel base64, one line. */
  def cachedMomentsBytes(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, tag: String, df: DataFrame, vecCol: String,
      d: Int): Array[Byte] =
    java.util.Base64.getDecoder.decode(
      StorageOps.cachedRows(spark, srcPath, s"pcamom_${tag}_$d")(Seq(
        java.util.Base64.getEncoder.encodeToString(
          momentsBytes(df, vecCol, d)))).head)

  /** Fit from pre-aggregated moments bytes (see [[mergeMomentsBytes]]). */
  def fitFromMoments(bytes: Array[Byte], k: Int): PcaModel = {
    val buf = graft.functions.MomentsBuffer.fromBytes(bytes)
    val d = buf.d
    require(k >= 1 && k <= d, s"k=$k out of range 1..$d")
    val n = buf.n
    require(n > 1, s"need > 1 vectors, got $n")
    val sums = buf.sums.map(_ / MomentsBuffer.Scale)
    val mean = sums.map(_ / n)
    val prods = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = buf.prods(t) / MomentsBuffer.Scale
        prods(i)(j) = v; prods(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }
    val cov = Array.tabulate(d, d) { (a, b) =>
      prods(a)(b) / n - mean(a) * mean(b)
    }
    val (vals, vecs) = jacobiEig(cov)
    val order = vals.indices.sortBy(i2 => (-vals(i2), i2)).take(k)
    val basis = order.map { c =>
      val v = Array.tabulate(d)(r => vecs(r)(c))
      var best = 0
      var bi = 1
      while (bi < d) {
        if (math.abs(v(bi)) > math.abs(v(best))) best = bi
        bi += 1
      }
      if (v(best) < 0) v.map(-_) else v
    }.toArray
    val totalVar = (0 until d).map(i2 => cov(i2)(i2)).sum
    PcaModel(d, k, n, mean, order.map(vals).toArray, basis, totalVar)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (Golub &
    * Van Loan §8.5). Returns (eigenvalues, eigenvector COLUMNS),
    * unordered. Deterministic: fixed p<q sweep order, fixed tolerance. */
  def jacobiEig(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off2(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (off2() > 1e-22 && sweep < 64) {
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) { // A ← JᵀAJ, rotating columns then rows p,q
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) { // accumulate V ← VJ
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Declared-query shape: top-k projections per vector plus the
    * model's explained-variance ratios as constant columns (rounded —
    * every emitted value is deterministic under any partitioning). */
  def pcaProjection(embeddings: DataFrame, idCol: String, vecCol: String,
      d: Int, k: Int): DataFrame = {
    val model = fit(embeddings, vecCol, d, k)
    val ev = model.explained
    project(embeddings.select(col(idCol), col(vecCol)), vecCol, model)
      .select(
        col(idCol) +:
          (1 to k).map(i => col(s"pc$i")) :+
          round(lit(ev.take(k).sum), 6).as("var_explained_topk"): _*)
      .orderBy(col(idCol))
  }
}
