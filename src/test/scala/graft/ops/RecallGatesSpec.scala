package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.HashFunctions

/** Quantified ground-truth gates for the sketch/ANN paths that have no
  * SQL oracle: at sf0.001 the EXACT pairwise similarity is computable
  * brute-force (all ~125k doc pairs), so candidate recall at each
  * query's operating point is measured, asserted, and logged — a
  * rows-only correctness check stops meaning "trust me".
  *
  * Measured values (sf0.001, deterministic inputs — these are stable
  * run to run) are recorded in PLANS.md §recall.
  */
class RecallGatesSpec extends SparkSpec {

  private lazy val docs = graft.Tables.documents(spark, Sf0001)
  private lazy val emb = graft.Tables.embeddings(spark, Sf0001)

  /** All (a < b) pairs of `df`'s (id, payload) under a self cross join
    * — exact ground truth machinery, test-scale only. */
  private def allPairs(df: DataFrame, payload: String): DataFrame =
    df.select(col("id").as("a"), col(payload).as("pa"))
      .crossJoin(df.select(col("id").as("b"), col(payload).as("pb")))
      .filter(col("a") < col("b"))

  private def jaccard = size(array_intersect(col("pa"), col("pb")))
    .cast("double") / size(array_union(col("pa"), col("pb")))

  private def recallOf(candidates: DataFrame, truth: DataFrame): Double = {
    val t = truth.select(col("a"), col("b"))
    val hit = candidates.select(col("a"), col("b")).distinct()
      .join(t, Seq("a", "b"), "left_semi").count()
    val total = t.count()
    assert(total > 0, "ground-truth pair set must be non-empty")
    hit.toDouble / total
  }

  test("minhash LSH candidate recall >= 0.95 at Jaccard 0.8 (exact ground truth)") {
    val sh = docs.select(col("doc_id").as("id"),
      HashFunctions.shingleHashes(DedupOps.tokens(col("text")), 3).as("s"))
    val truth = allPairs(sh, "s").filter(jaccard >= 0.8)
    val cand = DedupOps.minhashCandidates(docs, "doc_id", "text")
    val r = recallOf(cand, truth)
    info(f"minhash candidate recall@j0.8 = $r%.4f (truth pairs: ${truth.count()})")
    // theory at the operating point (k=64, 16 bands x 4 rows):
    // P(candidate | j=0.8) = 1-(1-0.8^4)^16 ~ 0.9998
    assert(r >= 0.95, f"minhash recall $r%.4f below gate")
  }

  test("simhash per-doc near counts match brute-force Hamming<=3 exactly") {
    val sh = docs.select(col("doc_id").as("id"),
      HashFunctions.simhash64(DedupOps.tokens(col("text"))).as("h"))
    val truthPairs = allPairs(sh, "h")
      .filter(bit_count(col("pa").bitwiseXOR(col("pb"))) <= 3)
    // 4x16-bit banding is pigeonhole-complete for Hamming<=3, so with no
    // bucket overflow the summary counts must EQUAL the brute-force
    // counts — recall and precision both 1.0
    val truthCounts = truthPairs
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_true"))
    val summary = DedupOps.simhashSummary(docs, "doc_id", "text")
      .select(col("doc_id").as("id"), col("n_near"))
    val joined = summary.join(truthCounts, Seq("id"), "left")
      .select(col("id"), col("n_near"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
    val mismatches = joined.filter(col("n_near") =!= col("n_true")).count()
    info(s"simhash true near-pairs: ${truthPairs.count()}")
    assert(mismatches == 0L, s"$mismatches docs disagree with brute force")
  }

  test("ngram inverted-index candidate recall at Jaccard 0.5 (exact ground truth)") {
    val g = docs.select(col("doc_id").as("id"),
      HashFunctions.charNgramHashes(col("text"), 8).as("s"))
    val truth = allPairs(g, "s").filter(jaccard >= 0.5)
    val cand = DedupOps.ngramJaccardPairs(docs, "doc_id", "text")
    val r = recallOf(cand, truth)
    info(f"ngram candidate recall@j0.5 = $r%.4f (truth pairs: ${truth.count()})")
    assert(r >= 0.9, f"ngram recall $r%.4f below gate")
  }

  test("ann_lsh and ann_ivf recall@10 vs the exact brute-force top-10") {
    val q = emb.filter(col("vec_id") < 5)
    val brute = AnnOps.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.size == 50)

    val lsh = AnnOps.lshTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lshRecall = (brute intersect lsh).size.toDouble / brute.size
    info(f"ann_lsh recall@10 = $lshRecall%.4f")
    assert(lshRecall >= 0.45, f"lsh recall@10 $lshRecall%.4f below gate")

    // multi-probe on the SAME near-uniform data: more candidates can
    // only help — must dominate the single-probe operating point
    val mp = AnnOps.lshTopK(emb, q, "vec_id", "embedding", 10,
      probeHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val mpRecall = (brute intersect mp).size.toDouble / brute.size
    info(f"ann_lsh_mp recall@10 = $mpRecall%.4f (single-probe $lshRecall%.4f)")
    assert(mpRecall >= lshRecall,
      f"multi-probe $mpRecall%.4f must not trail single-probe $lshRecall%.4f")

    val model = AnnOps.buildIvf(emb, "vec_id", "embedding", nlist = 8)
    // nprobe sweep: recall must be monotone-ish in probes; the declared
    // operating point (nprobe=3) keeps its floor
    val sweep = Seq(2, 3, 4).map { np =>
      val ivf = AnnOps.ivfTopK(emb, q, "vec_id", "embedding", model,
        k = 10, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      np -> (brute intersect ivf).size.toDouble / brute.size
    }
    sweep.foreach { case (np, r) =>
      info(f"ann_ivf recall@10 (nprobe=$np) = $r%.4f") }
    val ivfRecall = sweep.find(_._1 == 3).get._2
    assert(ivfRecall >= 0.5, f"ivf recall@10 $ivfRecall%.4f below gate")
    assert(sweep.last._2 >= ivfRecall,
      "raising nprobe must not lose recall")
  }

  test("multi-probe LSH and IVF reach recall@10 >= 0.7 on realistic-gap data") {
    // the driver embeddings are near-uniform (max natural cosine 0.48)
    // — an operating point measured there says little about a corpus
    // with genuinely-close neighbors. Plant 10 perturbed copies of
    // each query vector (cosine ~0.999): the exact top-10 is then the
    // planted set, and the approximate paths must retrieve >= 70% of
    // it — the knob a user needs when 0.5-recall isn't enough.
    import spark.implicits._
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    var seed = 0xb0a710adL // fixed seed: determinism is what matters
    val planted = qs.flatMap { case (id, v) =>
      (0 until 10).map { i =>
        val w = v.map { x =>
          seed = seed * 6364136223846793005L + 1442695040888963407L
          val u = ((seed >>> 40).toInt.toDouble / (1 << 24)) * 2.0 - 1.0
          (x * (1.0 + 0.03 * u)).toFloat
        }
        (100000L + id * 100 + i, w)
      }
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(planted.toSeq.toDF("vec_id", "embedding"))
    val q = emb.filter(col("vec_id") < 5)
    val brute = AnnOps.bruteForceTopK(corpus, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.size == 50)

    val mp = AnnOps.lshTopK(corpus, q, "vec_id", "embedding", 10,
      probeHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val mpRecall = (brute intersect mp).size.toDouble / brute.size
    info(f"ann_lsh_mp recall@10 on realistic gaps = $mpRecall%.4f")
    assert(mpRecall >= 0.7, f"multi-probe LSH recall $mpRecall%.4f below 0.7")

    val model = AnnOps.buildIvf(corpus, "vec_id", "embedding", nlist = 8)
    val ivf = AnnOps.ivfTopK(corpus, q, "vec_id", "embedding", model,
      k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRecall = (brute intersect ivf).size.toDouble / brute.size
    info(f"ann_ivf recall@10 on realistic gaps (nprobe=3) = $ivfRecall%.4f")
    assert(ivfRecall >= 0.7, f"IVF recall $ivfRecall%.4f below 0.7")
  }
}
