package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for the persisted incremental-ingest inventories (round-9
  * advice #4): merged artifact == recomputed inventory, and batch N+1
  * reads NO stored corpus text. */
class IngestOpsSpec extends SparkSpec {

  private lazy val docs = graft.Tables.documents(spark, Sf0001)

  test("inventory flow: query parity, batch-sized second batch, merge == recompute") {
    import spark.implicits._
    // three disjoint slices standing in for corpus + two batches
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val batchA = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val batchB = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .localCheckpoint(true) // batch arrives in memory: no file reads
    val key = s"spec_${java.util.UUID.randomUUID().toString.take(8)}"
    IngestOps.buildInventory(spark, key, corpus, "text")

    // --- batch A: ingest + merge ---
    val stA = IngestOps.ingestBatch(spark, key, batchA, "doc_id", "text")
    val acceptedA = stA.s4.localCheckpoint(true)
    assert(acceptedA.count() > 0, "batch A must have survivors")
    IngestOps.mergeAccepted(spark, key, acceptedA, "clean")

    // --- merged artifact == recomputed inventory over the stored
    // corpus (corpus ∪ accepted clean texts), both directions ---
    val stored = corpus.select(col("text"))
      .unionByName(acceptedA.select(col("clean").as("text")))
    def setEq(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what diverged between merged artifact and recompute")
    }
    setEq(IngestOps.inventoryMd5s(spark, key),
      IngestOps.docMd5s(stored, "text"), "md5 inventory")
    setEq(IngestOps.inventorySegments(spark, key),
      IngestOps.docSegments(stored, "text"), "segment inventory")

    // --- batch B touches ONLY batch-sized inputs: every file in the
    // ingest plan is an inventory parquet, never corpus source text ---
    val stB = IngestOps.ingestBatch(spark, key, batchB, "doc_id", "text")
    val files = stB.s4.inputFiles
    assert(files.nonEmpty, "inventory reads should appear as files")
    val inv = IngestOps.invRoot(key)
    assert(files.forall(_.contains(inv)),
      s"second batch read a non-inventory file: " +
        files.filterNot(_.contains(inv)).take(3).mkString(", "))
    assert(!files.exists(_.contains("documents.parquet")),
      "second batch must not re-scan stored corpus text")

    // --- a batch doc whose text equals a stored doc dies in stage 1
    // against the MERGED inventory (accepted clean text is stored) ---
    val firstClean = acceptedA.orderBy(col("doc_id")).select(col("clean"))
      .head.getString(0)
    val replay = Seq((999999L, firstClean)).toDF("doc_id", "text")
    val stR = IngestOps.ingestBatch(spark, key, replay, "doc_id", "text")
    assert(stR.s1.count() == 0,
      "a re-arriving accepted doc must be exact-deduped by the merged md5s")
  }

  test("gramSet: distinct lowercased word 3-grams, a text under three " +
      "tokens is its own gram, a null text is one null gram") {
    import spark.implicits._
    def grams(text: String): Seq[Option[String]] =
      IngestOps.gramSet(Seq(Option(text)).toDF("text"), "text")
        .collect().map(r => Option(r.getString(0))).toSeq.sorted
    assert(grams(null) == Seq(None))
    assert(grams("") == Seq(Some("")))
    assert(grams("Hello") == Seq(Some("hello")))
    assert(grams("Hello World") == Seq(Some("hello world")))
    assert(grams("The quick Brown fox") ==
      Seq(Some("quick brown fox"), Some("the quick brown")))
    assert(grams("a b a b a") == Seq(Some("a b a"), Some("b a b")))
  }

  test("merge == recompute property: 5 random small corpora") {
    import org.scalacheck.{Gen, rng}
    import spark.implicits._
    // manual scalacheck sampling (the PropertiesSpec pattern): random
    // small-vocab corpora with planted duplicates — the adversarial
    // case for segment coincidence after reassembly re-tiling
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(20, 60)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    (0 until 5).foreach { trial =>
      val params = Gen.Parameters.default
      val texts = (0 until 12).flatMap(i =>
        docGen.apply(params, rng.Seed(7000L * trial + i)))
      // plant an exact dup + a shared-prefix doc so stages 1-2 both act
      val all = (texts :+ texts.head :+
        (texts(1).split(" ").take(32).mkString(" ") + " z z z"))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val corpus = all.take(8).toDF("doc_id", "text")
      val batch = all.drop(8).toDF("doc_id", "text")
      val key = s"prop_${trial}_${java.util.UUID.randomUUID().toString.take(6)}"
      IngestOps.buildInventory(spark, key, corpus, "text")
      val st = IngestOps.ingestBatch(spark, key, batch, "doc_id", "text",
        segLen = 16)
      // accept stage-2 survivors directly (no quality gate — random
      // short docs would rarely pass it, starving the property)
      val accepted = st.s2.localCheckpoint(true)
      IngestOps.mergeAccepted(spark, key, accepted, "clean")
      val stored = corpus.select(col("text"))
        .unionByName(accepted.select(col("clean").as("text")))
      assert(IngestOps.inventoryMd5s(spark, key)
        .exceptAll(IngestOps.docMd5s(stored, "text")).count() == 0 &&
        IngestOps.docMd5s(stored, "text")
          .exceptAll(IngestOps.inventoryMd5s(spark, key)).count() == 0,
        s"trial=$trial md5 inventory diverged")
      assert(IngestOps.inventorySegments(spark, key)
        .exceptAll(IngestOps.docSegments(stored, "text")).count() == 0 &&
        IngestOps.docSegments(stored, "text")
          .exceptAll(IngestOps.inventorySegments(spark, key)).count() == 0,
        s"trial=$trial segment inventory diverged")
    }
  }

  test("inventory compaction: merges accumulate files, threshold " +
      "rewrite preserves content and gating, under-threshold is a no-op") {
    import spark.implicits._
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2))
    val key = s"cmp_${java.util.UUID.randomUUID().toString.take(6)}"
    IngestOps.buildInventory(spark, key, corpus, "text")
    def replayText(i: Int) =
      s"novel merge doc number $i " + Seq.fill(40)("tok").mkString(" ")
    (0 until 10).foreach { i =>
      IngestOps.mergeAccepted(spark, key,
        Seq((1000L + i, replayText(i))).toDF("doc_id", "clean"), "clean")
    }
    def nFiles = IngestOps.inventoryMd5s(spark, key).inputFiles.length +
      IngestOps.inventorySegments(spark, key).inputFiles.length
    def md5Set = IngestOps.inventoryMd5s(spark, key)
      .collect().map(_.getString(0)).toSet
    def segSet = IngestOps.inventorySegments(spark, key)
      .collect().map(_.getAs[String]("sh")).toSet
    val (before, md5Before, segBefore) = (nFiles, md5Set, segSet)
    assert(before >= 20, s"10 merges must accumulate files: $before")
    assert(!IngestOps.compactInventoryIfNeeded(spark, key,
      maxFiles = 1000), "under-threshold inventory must not rewrite")
    assert(nFiles == before)
    assert(IngestOps.compactInventoryIfNeeded(spark, key, maxFiles = 4),
      s"$before files must trip threshold 4")
    assert(nFiles < before / 2,
      s"compaction must collapse append files: $before -> $nFiles")
    assert(md5Set == md5Before && segSet == segBefore,
      "compaction must not change inventory content")
    // gating against the compacted artifact: a re-arriving merged doc
    // still dies at stage 1
    val st = IngestOps.ingestBatch(spark, key,
      Seq((9999L, replayText(3))).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(st.s1.count() == 0,
      "merged doc must still exact-dedup after compaction")
    assert(!IngestOps.compactInventoryIfNeeded(spark, key, maxFiles = 4),
      "compacted inventory sits below the threshold")
  }

  test("sourceFiles lists every frame composed into the stages, " +
      "a lazy parquet-backed evalGrams included") {
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .localCheckpoint(true)
    val key = s"src_${java.util.UUID.randomUUID().toString.take(8)}"
    IngestOps.buildInventory(spark, key, corpus, "text")
    // lazy: planned from the documents parquet, never materialized
    val evalGrams = docs.filter(pmod(col("doc_id"), lit(50)) === 1)
      .select(explode(split(lower(col("text")), " ")).as("g")).distinct()
    val st = IngestOps.ingestBatch(spark, key, batch, "doc_id", "text",
      Some(evalGrams))
    assert(st.sourceFiles.exists(_.contains("documents.parquet")),
      s"the evalGrams leaf is missing: ${st.sourceFiles.mkString(", ")}")
    assert(st.sourceFiles.toSet == st.s4.inputFiles.toSet,
      "sourceFiles must equal the files the composed s4 plan reads")
    IngestOps.dropInventory(key)
  }

  test("pipeline_ingest_incr equals pipeline_ingest (artifact path == recompute)") {
    val full = graft.SparkEntry.queries("pipeline_ingest")(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val incr = graft.SparkEntry.queries("pipeline_ingest_incr")(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(full == incr, s"full=$full incr=$incr")
  }
}
