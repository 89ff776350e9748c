package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** KMV sketch — exhaustive-regime exactness, the 1/sqrt(k) error
  * bound, set-algebra estimates, and the deterministic-function-of-
  * the-key-set claim (merge == whole, byte-identical, any partitioning). */
class KmvSpec extends SparkSpec {

  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame,
      c: String, k: Int): Array[Byte] =
    df.agg(Kmv.kmvSketch(col(c).cast("string"), k))
      .head.getAs[Array[Byte]](0)

  test("exhaustive regime (< k distinct values) is exact") {
    val df = (1 to 100).map(_.toString).toDF("v")
    val s = sketch(df, "v", 512)
    assert(KmvBuffer.estimate(s) == 100.0)
    // duplicates do not inflate the sketch
    val dup = ((1 to 100) ++ (1 to 100)).map(_.toString).toDF("v")
    assert(KmvBuffer.estimate(sketch(dup, "v", 512)) == 100.0)
  }

  test("estimate within the 4-sigma KMV bound at k=512, n=20000") {
    val df = (1 to 20000).map(i => s"key_$i").toDF("v")
    val est = KmvBuffer.estimate(sketch(df, "v", 512))
    val relErr = math.abs(est / 20000.0 - 1.0)
    info(f"n=20000 k=512 est=$est%.1f relErr=$relErr%.4f")
    assert(relErr <= 4.0 / math.sqrt(510), f"relErr $relErr%.4f over bound")
  }

  test("merge == whole, byte-identical, under any partitioning") {
    val whole = (1 to 5000).map(i => s"k$i").toDF("v")
    val a = sketch(whole.filter(expr("cast(substring(v, 2) as int) % 2 = 0")), "v", 256)
    val b = sketch(whole.filter(expr("cast(substring(v, 2) as int) % 2 = 1")), "v", 256)
    val direct = sketch(whole, "v", 256)
    assert(java.util.Arrays.equals(KmvBuffer.union(a, b), direct))
    val repart = sketch(whole.repartition(13), "v", 256)
    assert(java.util.Arrays.equals(repart, direct))
  }

  test("jaccard / intersection estimates track planted overlap") {
    // |A| = |B| = 4000, |A ∩ B| = 2000 → J = 1/3
    val aSet = (1 to 4000).map(i => s"x$i")
    val bSet = (2001 to 6000).map(i => s"x$i")
    val sa = sketch(aSet.toDF("v"), "v", 1024)
    val sb = sketch(bSet.toDF("v"), "v", 1024)
    val j = KmvBuffer.jaccard(sa, sb)
    val inter = KmvBuffer.intersection(sa, sb)
    val uni = KmvBuffer.estimate(KmvBuffer.union(sa, sb))
    info(f"jaccard=$j%.4f inter=$inter%.1f union=$uni%.1f")
    assert(math.abs(j - 1.0 / 3.0) <= 0.06, f"jaccard $j%.4f off 1/3")
    assert(math.abs(inter / 2000.0 - 1.0) <= 0.2, f"inter $inter%.1f")
    assert(math.abs(uni / 6000.0 - 1.0) <= 0.2, f"union $uni%.1f")
  }

  test("declared query: estimates agree with its own exact columns") {
    val row = graft.SparkEntry.queries("q_kmv_overlap")(spark, Sf0001).head()
    val (nClick, nView, nCommon) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    val (eClick, eView, eCommon) =
      (row.getDouble(3), row.getDouble(4), row.getDouble(5))
    assert(nClick > 0 && nView > 0)
    // sf0.001 populations are far below k=512 → exhaustive → exact
    assert(eClick == nClick.toDouble)
    assert(eView == nView.toDouble)
    assert(math.abs(eCommon - nCommon) <= math.max(2.0, 0.1 * nCommon))
  }
}
