package graft

import org.apache.spark.sql.functions._

import graft.queries.Shared

/** Round-7 gates. */
class Round7Spec extends SparkSpec {

  test("knuthHash: ANSI-safe for the full id range, bit-identical to BigInt naive") {
    import spark.implicits._
    // ids straddling the naive-formula overflow point (~3.46e9) and far
    // beyond; includes 2^32 boundary values and a negative id.
    val ids = Seq(0L, 1L, 2L, 17L, 65535L, 65536L, 123456789L,
      3459999999L, 3460000001L, 4294967295L, 4294967296L,
      5000000000L, 1000000000000L, (1L << 62), -7L)
    val got = ids.toDF("id")
      .select(col("id"), Shared.knuthHash(col("id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val A = BigInt(2654435761L)
    val M = BigInt(1) << 32
    ids.foreach { i =>
      val want = (((BigInt(i) mod M) * A) mod M).toLong
      assert(got(i) == want, s"id=$i got=${got(i)} want=$want")
    }
  }

  test("q_chunk: chunks tile every document with the declared overlap") {
    val docs = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), length(col("text")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("q_chunk")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet, "every document must be chunked")
    byDoc.foreach { case (id, cs) =>
      val len = docs(id)
      val expected = 1L + math.max(0L, math.ceil((len - 120).toDouble / 80).toLong)
      assert(cs.length == expected, s"doc $id: ${cs.length} != $expected chunks")
      val sorted = cs.sortBy(_._2)
      // all chunks are full-size except possibly the last, which still
      // reaches the end of the document
      sorted.init.foreach { case (_, _, n) => assert(n == 120) }
      val (_, lastId, lastN) = sorted.last
      assert(lastId * 80 + lastN == len.toLong,
        s"doc $id: last chunk must end at the document end")
    }
  }

  test("q_weighted_stratified: per-language rank contract") {
    val res = SparkEntry.queries("q_weighted_stratified")(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val perLang = res.groupBy(_._1)
    val langSizes = graft.Tables.documents(spark, Sf0001)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, n) =>
      val got = perLang.getOrElse(lang, Array.empty).map(_._2).sorted.toSeq
      val want = (1L to math.min(5L, n)).toSeq
      assert(got == want, s"$lang: ranks $got != $want")
    }
    // no document sampled twice across strata
    val ids = res.map(_._3)
    assert(ids.distinct.length == ids.length)
  }

  test("knuthHashSql mirrors knuthHash exactly (Spark SQL evaluation)") {
    import spark.implicits._
    val ids = Seq(0L, 65535L, 65536L, 3460000001L, 5000000000L,
      -7L, -65536L, -4294967297L)
    val df = ids.toDF("id")
    df.createOrReplaceTempView("khs_ids")
    val viaSql = spark.sql(
      s"SELECT id, ${Shared.knuthHashSql("id")} AS h FROM khs_ids")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = df.select(col("id"), Shared.knuthHash(col("id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
  }

  test("q_powerlaw_alpha: scan reads only (source, n_chars), filter pushed") {
    val df = SparkEntry.queries("q_powerlaw_alpha")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    val re = "ReadSchema: struct<([^>]*)>".r
    val cols = re.findFirstMatchIn(plan) match {
      case Some(m) =>
        m.group(1).split(",").map(_.split(":")(0).trim)
          .filter(_.nonEmpty).toSet
      case None => fail(s"no ReadSchema in plan:\n$plan")
    }
    // the length-distribution audit must never read the text payload
    assert(cols == Set("source", "n_chars"),
      s"scan reads $cols, expected only source+n_chars")
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("n_chars"),
      s"n_chars predicate not pushed to the scan: $pushed")
  }

  test("q_partitioned_read: scan prunes to the lang partition directory") {
    val df = SparkEntry.queries("q_partitioned_read")(spark, Sf0001)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("lang"),
      s"lang partition filter missing from scan: $scan")
    // pruning is structural: the partition predicate must appear in
    // PartitionFilters (directory listing), and the row count must
    // match the direct filter over the original table
    val direct = graft.Tables.documents(spark, Sf0001)
      .filter(col("lang") === "en").count()
    assert(df.count() == direct)
  }

  test("q_chunk_tokens: token-aligned tiling covers every word exactly once") {
    val wordCounts = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("q_chunk_tokens")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == wordCounts.keySet)
    byDoc.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong),
        s"doc $id: chunk ids not contiguous")
      sorted.init.foreach { case (_, _, n) =>
        assert(n == 64L, s"doc $id: non-final chunk not 64 tokens") }
      assert(sorted.last._3 >= 1L && sorted.last._3 <= 64L)
      assert(cs.map(_._3).sum == wordCounts(id).toLong,
        s"doc $id: chunk token counts must sum to the word count")
    }
  }

  test("q_sample_replace: per-draw winner matches an independent recompute") {
    val docs = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val A = BigInt(2654435761L); val M = BigInt(1) << 32
    def key(id: Long, draw: Long): Double = {
      val h = (((BigInt(id + draw * 1000003L) mod M) * A) mod M).toLong
      val u = (h + 1).toDouble / 4294967296.0
      BigDecimal(math.pow(u, 1.0 / docs.find(_._1 == id).get._2))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = SparkEntry.queries("q_sample_replace")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == (0L to 19L), "exactly one winner per draw")
    // independent argmax recompute for the first three draws
    (0L to 2L).foreach { draw =>
      val want = docs.map { case (id, _) => (key(id, draw), id) }
        .max(Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.Long.reverse))._2
      assert(got.toMap.apply(draw) == want, s"draw $draw winner mismatch")
    }
  }

  test("pagerank: distributed fixed-point ranks EXACTLY equal the driver recompute") {
    val ev = graft.Tables.events(spark, Sf0001)
      .select(col("user_id").cast("long").as("user"),
        (get_json_object(col("props"), "$.k").cast("long") + 1000000L)
          .as("item"))
      .filter(col("item").isNotNull)
    val pairs = ev.collect().map(r => (r.getLong(0), r.getLong(1)))
    val edgeSeq = pairs.toSeq ++ pairs.map(_.swap).toSeq
    val want = ops.GraphOps.pagerankLocal(edgeSeq)
    val edges = ev.select(col("user").as("src"), col("item").as("dst"))
      .union(ev.select(col("item").as("src"), col("user").as("dst")))
    val got = ops.GraphOps.pagerank(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == want.size)
    // integer arithmetic end to end: not approximately — EXACTLY equal
    val diffs = want.collect { case (n, r) if got(n) != r => (n, r, got(n)) }
    assert(diffs.isEmpty, s"rank mismatches: ${diffs.take(5).mkString(",")}")
    // mass conservation up to floor-division leak (< n*(iters+1) units)
    val mass = got.values.sum
    assert(mass <= 1000000000000000L &&
      mass >= 1000000000000000L - got.size.toLong * 13 * 100,
      s"rank mass $mass out of bounds")
  }

  test("pagerank: hub structure ranks above leaves on a hand graph") {
    import spark.implicits._
    // star: 1..5 -> 0 plus a chain 6 -> 7; node 0 is the hub; 7 dangles
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 7L)).toDF("src", "dst")
    val ranks = ops.GraphOps.pagerank(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(0L) == ranks.values.max, "hub must hold the top rank")
    assert(ranks(7L) > ranks(6L), "chain head feeds its successor")
    assert(ranks.size == 8)
    // exact equality with the reference recompute on the hand graph too
    val want = ops.GraphOps.pagerankLocal(
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L), (6L, 7L)))
    assert(ranks == want)
  }

  test("q_gopher_quality: verdict agrees with a Scala recompute per doc") {
    val texts = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def round4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = SparkEntry.queries("q_gopher_quality")(spark, Sf0001)
      .collect()
    assert(got.length == texts.size)
    got.foreach { r =>
      val (id, nWords, pass) = (r.getLong(0), r.getLong(1), r.getLong(6))
      val words = texts(id).split(" ", -1)
      assert(nWords == words.length.toLong, s"doc $id word count")
      val meanLen = round4(words.map(_.length).sum.toDouble / words.length)
      // the query's [A-Za-z] is deliberately ASCII (Gopher's rule is
      // latin-script); mirror it exactly, not Char.isLetter
      val alphaAscii = round4(words.count(
        _.exists(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')))
        .toDouble / words.length)
      val symbols = round4(
        ("#|\\.\\.\\.".r.findAllIn(texts(id)).size).toDouble / words.length)
      val stops = "\\b(the|a)\\b".r.findAllIn(texts(id)).size
      val want = if (nWords >= 10 && nWords <= 100000 &&
        meanLen >= 2.0 && meanLen <= 12.0 && alphaAscii >= 0.6 &&
        symbols <= 0.1 && stops >= 1) 1L else 0L
      assert(pass == want, s"doc $id: pass=$pass recompute=$want " +
        s"(alpha=$alphaAscii)")
    }
  }
}
