package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, (1 to 60).map(i => s"w$i").mkString(" ")),                // base
    (1L, (1 to 57).map(i => s"w$i").mkString(" ") + " x y z"),     // near-dup of 0
    (2L, (100 to 160).map(i => s"q$i").mkString(" ")),             // unrelated
    (3L, (1 to 60).map(i => s"w$i").mkString(" ")),                // exact dup of 0
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("minhash LSH finds the near-dup and exact-dup pairs") {
    val pairs = DedupOps.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 3L)), "exact dup pair must be a candidate")
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs.contains((0L, 1L)), "near dup pair must be a candidate")
    assert(pairs((0L, 1L)) > 0.8)
    assert(!pairs.contains((0L, 2L)) || pairs((0L, 2L)) < 0.1)
  }

  test("minhash summary has one row per doc and flags dups") {
    val sum = DedupOps.minhashDedupSummary(docs, "doc_id", "text",
      threshold = 0.8)
    assert(sum.count() == 5)
    val byId = sum.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byId(3L)._2 >= 1, "doc 3 must have a verified dup")
    assert(byId(3L)._3 == 0L, "doc 3's partner must be doc 0")
    assert(byId(2L)._2 == 0, "unrelated doc must have no dups")
    assert(byId(4L)._3 == -1L)
  }

  test("simhash summary: exact dups are near, unrelated are not") {
    val sum = DedupOps.simhashSummary(docs, "doc_id", "text")
    val byId = sum.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(byId(0L)._1 == byId(3L)._1, "identical texts → identical simhash")
    assert(byId(0L)._2 >= 1 && byId(3L)._2 >= 1)
    assert(byId(2L)._2 == 0)
  }

  test("ngram jaccard pairs find exact dup with jaccard 1") {
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
      n = 8, maxDf = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 3L)).contains(1.0))
  }

  test("word shingles fall back to whole text for short docs") {
    val sh = docs.filter(col("doc_id") === 4L)
      .select(DedupOps.wordShingles(DedupOps.tokens(col("text")), 3))
      .head.getSeq[String](0)
    assert(sh == Seq("short text"))
  }

  test("each near-dup step is written once: band explosion, segment " +
      "tiling, set Jaccard and pair-end join only in DedupOps.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val everywhere = (_: Path) => true
    // query bodies may hand-write a pair join that carries its own hints
    val operators = (p: Path) => !p.toString.contains("/queries/")
    val steps = Seq("withColumnRenamed(\"pos\", \"band_id\")" -> everywhere,
      "segLen + 1" -> everywhere, "array_union(" -> everywhere,
      "Seq(\"a\"))" -> operators)
    val hits = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p, UTF_8).asScala.zipWithIndex.flatMap {
          case (line, i) =>
            steps.collect { case (st, in) if in(p) && line.contains(st) =>
              (st, p.getFileName.toString, s"$p:${i + 1}: $line") }
        }
      }.toSeq
    val outside = hits.filter(_._2 != "DedupOps.scala").map(_._3)
    assert(outside.isEmpty,
      "compose the DedupOps helpers instead:\n" + outside.mkString("\n"))
    val repeated = hits.groupBy(_._1).filter(_._2.size > 1)
    assert(repeated.isEmpty,
      "one definition per step:\n" + repeated.values.flatten.map(_._3)
        .mkString("\n"))
  }
}
