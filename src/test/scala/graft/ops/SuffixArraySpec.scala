package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Distributed prefix-doubling suffix array vs a driver-side reference
  * sort, on hand corpora and a real testdata slice; longest-repeat on
  * the planted-duplicate corpus. */
class SuffixArraySpec extends SparkSpec {

  /** Reference: sort all (truncated) suffixes directly. Dense rank;
    * identical truncated suffixes share a rank. */
  private def referenceSa(docs: Seq[(Long, String)],
      maxLen: Int): Seq[(Long, Long, Long)] = {
    val suffixes = docs.flatMap { case (id, t) =>
      (0 until t.length).map(off =>
        (id, off.toLong, t.substring(off).take(maxLen)))
    }
    val ordered = suffixes.sortBy(_._3)
    var rank = -1L
    var prev: String = null
    ordered.map { case (id, off, s) =>
      if (prev == null || s != prev) rank += 1
      prev = s
      (id, off, rank)
    }.sortBy(e => (e._1, e._2))
  }

  private def runSa(docs: Seq[(Long, String)],
      maxLen: Int = 256): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    SuffixArrayOps
      .suffixArray(docs.toDF("doc_id", "text"), "doc_id", "text", maxLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e._1, e._2))
  }

  test("banana: the textbook suffix order") {
    val got = runSa(Seq(1L -> "banana"))
    // suffixes sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
    val byOff = got.map(e => e._2 -> e._3).toMap
    assert(byOff == Map(5L -> 0L, 3L -> 1L, 1L -> 2L, 0L -> 3L,
      4L -> 4L, 2L -> 5L))
  }

  test("identical suffixes across documents share a rank") {
    val got = runSa(Seq(1L -> "xabc", 2L -> "yabc"))
    val rankOf = got.map(e => (e._1, e._2) -> e._3).toMap
    // "abc", "bc", "c" appear in both docs at offsets 1, 2, 3
    for (off <- 1L to 3L)
      assert(rankOf((1L, off)) == rankOf((2L, off)), s"off $off")
    assert(rankOf((1L, 0L)) != rankOf((2L, 0L)))
  }

  test("distributed == reference on hand corpora and random-ish text") {
    val corpora = Seq(
      Seq(1L -> "banana", 2L -> "bandana"),
      Seq(1L -> "aaaaaaaa"), // degenerate: every round ties
      Seq(1L -> "the quick brown fox", 2L -> "the quick brown dog",
        3L -> "jumps over the lazy dog"))
    corpora.foreach { docs =>
      assert(runSa(docs) == referenceSa(docs, 256), s"corpus $docs")
    }
  }

  test("distributed == reference on a 40-doc testdata slice") {
    val docs = Tables.documents(spark, Sf0001)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(runSa(docs, maxLen = 64) == referenceSa(docs, 64))
  }

  test("truncated comparison depth: deep equal prefixes tie at maxLen") {
    val a = "z" * 40 + "a"
    val b = "z" * 40 + "b"
    val got = runSa(Seq(1L -> a, 2L -> b), maxLen = 16)
    val rankOf = got.map(e => (e._1, e._2) -> e._3).toMap
    // both full suffixes start with 40 z's; at depth 16 they tie
    assert(rankOf((1L, 0L)) == rankOf((2L, 0L)))
    val deep = runSa(Seq(1L -> a, 2L -> b), maxLen = 64)
      .map(e => (e._1, e._2) -> e._3).toMap
    assert(deep((1L, 0L)) != deep((2L, 0L)))
  }

  test("empty slice: suffix array and longest repeat short-circuit") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SuffixArrayOps
      .suffixArray(empty, "doc_id", "text").collect().isEmpty)
    val allEmptyTexts = Seq(1L -> "", 2L -> "").toDF("doc_id", "text")
    assert(SuffixArrayOps
      .suffixArray(allEmptyTexts, "doc_id", "text").collect().isEmpty)
    val row = SuffixArrayOps
      .longestRepeat(allEmptyTexts, "doc_id", "text").head()
    assert(row.getLong(0) == 0L && row.getLong(2) == 0L)
  }

  test("withNextSuffix == global-order lead, no WindowExec in the plan") {
    import spark.implicits._
    val docs = Seq(1L -> "banana", 2L -> "bandana",
      3L -> "an anagram of banana").toDF("doc_id", "text")
    val sa = SuffixArrayOps.suffixArray(docs, "doc_id", "text", 64)
    val suff = sa.join(docs, "doc_id")
      .select(col("sa_rank"), col("doc_id"), col("off"),
        expr("substring(text, cast(off + 1 as int), 64)").as("s"))
    val got = SuffixArrayOps.withNextSuffix(suff, 4)
    // the scale gate the round-7 verdict asked for: the adjacency must
    // never plan a WindowExec (a global orderBy window = one partition)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "adjacency plan must not contain any WindowExec")
    val ordered = suff.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._1, e._2, e._3))
    val expected = ordered.zipAll(ordered.drop(1), null, null)
      .map { case ((rk, d, o, s), nxt) =>
        (rk, d, o, s, if (nxt == null) null else nxt.asInstanceOf[(Long, Long, Long, String)]._4)
      }
    val actual = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4)))
      .sortBy(e => (e._1, e._2, e._3))
    assert(actual.toSeq == expected.toSeq)
  }

  test("cached suffix array: repeat call answers with no doubling jobs") {
    import spark.implicits._
    val docs = Seq(1L -> "banana", 2L -> "bandana",
      3L -> "a banana anagram").toDF("doc_id", "text")
    val src = java.nio.file.Files
      .createTempDirectory("sa-cache-src").toString
    docs.write.mode("overwrite").parquet(src)
    val fromDisk = spark.read.parquet(src)
    val sc = spark.sparkContext
    sc.setJobGroup("sa-first", "build+store", false)
    val first = SuffixArrayOps.cachedSuffixArray(spark, src, "all",
      fromDisk, "doc_id", "text", 64).collect()
    sc.clearJobGroup()
    sc.setJobGroup("sa-second", "artifact read", false)
    val second = SuffixArrayOps.cachedSuffixArray(spark, src, "all",
      fromDisk, "doc_id", "text", 64).collect()
    sc.clearJobGroup()
    val buildJobs = jobsInGroup("sa-first")
    val readJobs = jobsInGroup("sa-second")
    // identical ranks, and the repeat call ran only the parquet
    // read + collect — no prefix-doubling rounds (which alone cost
    // several jobs each: shuffle + summary collect + count)
    assert(second.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      .toSeq == first.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq)
    assert(first.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e._1, e._2)).toSeq ==
      referenceSa(Seq(1L -> "banana", 2L -> "bandana",
        3L -> "a banana anagram"), 64))
    assert(readJobs <= 3,
      s"cached read ran $readJobs jobs — artifact not being served")
    assert(buildJobs > readJobs,
      s"build ($buildJobs jobs) should dominate cached read ($readJobs)")
  }

  test("repeatedSpans reports the planted >=L spans from a stored array") {
    import spark.implicits._
    val span = "0123456789abcdefghijklmnopqrstuv" // exactly 32 chars
    val docs = Seq(
      1L -> s"xx $span yy",
      2L -> s"qq $span zz",
      3L -> "entirely unrelated filler words").toDF("doc_id", "text")
    val sa = SuffixArrayOps.suffixArray(docs, "doc_id", "text", 64)
    val spans = SuffixArrayOps
      .repeatedSpans(sa, docs, "doc_id", "text", minLen = 32, maxLen = 64)
      .collect()
    val md5OfSpan = java.security.MessageDigest.getInstance("MD5")
      .digest(span.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hit = spans.find(_.getString(0) == md5OfSpan)
    assert(hit.isDefined, s"planted span missing from ${spans.toSeq}")
    // common prefix runs one char past the span (both docs follow with
    // a space); 2 positions share it
    assert(hit.get.getLong(1) >= 32L)
    assert(hit.get.getLong(2) == 2L)
    // nothing shorter than minLen leaks in
    assert(spans.forall(_.getLong(1) >= 32L))
  }

  test("longest repeat surfaces the planted duplication") {
    import spark.implicits._
    val span = "this exact passage repeats verbatim in two documents"
    val docs = Seq(
      1L -> s"alpha $span omega",
      2L -> s"start $span finish",
      3L -> "completely unrelated filler content here").toDF("doc_id", "text")
    val row = SuffixArrayOps.longestRepeat(docs, "doc_id", "text").head()
    // the winning repeat must be at least the planted span's length
    assert(row.getLong(0) >= span.length,
      s"lrs_len ${row.getLong(0)} < planted ${span.length}")
    assert(row.getLong(2) >= 2L)
  }
}
