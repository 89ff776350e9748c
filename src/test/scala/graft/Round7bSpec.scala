package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Round-7b additions: exact global quantiles (sketch-bracketed
  * selection), retrieval-quality metrics, DSIR importance selection. */
class Round7bSpec extends SparkSpec {

  // ---- QuantileOps.exactQuantiles ---------------------------------

  test("exactQuantiles: hand-checkable interpolation on 1..10") {
    import spark.implicits._
    val df = (1L to 10L).toDF("v")
    val got = ops.QuantileOps
      .exactQuantiles(df, "v", Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // pos = 1 + q*(n-1): 3.25 -> 3.25, 5.5 -> 5.5, 9.1 -> 9.1
    assert(got == Map(0.25 -> 3.25, 0.5 -> 5.5, 0.9 -> 9.1))
  }

  test("exactQuantiles == Spark exact percentile on sf0.001 n_chars") {
    val docs = Tables.documents(spark, Sf0001)
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val got = ops.QuantileOps.exactQuantiles(docs, "n_chars", qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val exact = docs.agg(
      expr(s"percentile(n_chars, array(${qs.mkString(",")}))"))
      .head.getSeq[Double](0)
    qs.zip(exact).foreach { case (q, want) =>
      assert(got(q) == math.rint(want * 1e4) / 1e4,
        s"q=$q got=${got(q)} want=$want")
    }
  }

  test("exactQuantiles: margin must exceed the digest rank error") {
    import spark.implicits._
    val df = (1L to 10L).toDF("v")
    intercept[IllegalArgumentException] {
      ops.QuantileOps.exactQuantiles(df, "v", Seq(0.5),
        accuracy = 100, margin = 0.005)
    }
  }

  // ---- SelectionOps.dsirTopK --------------------------------------

  test("dsirTopK: target-vocabulary docs outweigh raw-only docs") {
    import spark.implicits._
    // target slice speaks alpha/beta/gamma; the raw remainder speaks
    // zeta/eta/theta; two mixed docs sit in between
    val docs = ((0 until 8).map(i =>
        (i.toLong, "alpha beta gamma alpha beta", true)) ++
      (8 until 16).map(i =>
        (i.toLong, "zeta eta theta zeta eta", false)) ++
      Seq((16L, "alpha zeta beta eta gamma", false),
          (17L, "theta alpha eta zeta zeta", false)))
      .toDF("doc_id", "text", "is_tgt")
    val out = ops.SelectionOps.dsirTopK(docs, "doc_id", "text",
      col("is_tgt"), buckets = 256, topK = 18).collect()
    assert(out.length == 18)
    out.foreach(r => assert(r.getLong(1) == 5L, "n_toks"))
    val order = out.map(_.getLong(0)).toSeq
    // top 8: the pure-target docs; then the alpha-heavy mixed doc,
    // then the zeta-heavy one; the pure-raw docs score lowest
    assert(order.take(8).toSet == (0L until 8L).toSet)
    assert(order(8) == 16L && order(9) == 17L)
    assert(order.drop(10).toSet == (8L until 16L).toSet)
    val w = out.map(_.getDouble(2)).toSeq
    assert(w == w.sorted.reverse, "descending weights")
    // determinism: same frame, different partitioning, same bytes
    val out2 = ops.SelectionOps.dsirTopK(docs.repartition(7), "doc_id",
      "text", col("is_tgt"), buckets = 256, topK = 18).collect()
    assert(out.toSeq == out2.toSeq)
  }
}
