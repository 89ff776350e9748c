package graft

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Ground-truth gates for the round-10c additions, starting with the
  * Gopher n-gram repetition filters: a full driver-side recompute of
  * all nine metrics over the real corpus, a DESIGNED corpus that
  * actually exercises the dup-coverage lanes (the synthetic testdata
  * contains no intra-doc repeated 5-grams, so those columns are
  * always 0 there — the union-of-covered-positions machinery needs
  * planted repetition to be tested at all), hand-computed anchor
  * values so the recompute itself is anchored, and the one-Exchange
  * plan gate. */
class Round10cSpec extends SparkSpec {

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Independent reference implementation: plain Scala collections,
    * no windows, no fixed-width key tricks. */
  private def reference(docId: Long, text: String)
      : (Long, Seq[Double], Seq[Double], Long) = {
    val words = text.split(" ", -1)
    val lenText = text.length
    val wchars = words.map(_.length).sum
    val tops = (2 to 4).map { n =>
      if (words.length < n) 0.0
      else {
        val grams = words.sliding(n).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
        // tiebreak (count DESC, gram ASC) — replicate independently
        val (topGram, topCnt) = counts.toSeq
          .sortBy { case (g, c) => (-c, g) }.head
        round4(topCnt.toLong * topGram.length.toDouble / lenText)
      }
    }
    val dups = (5 to 10).map { n =>
      if (words.length < n) 0.0
      else {
        val grams = words.sliding(n).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
        val covered = grams.zipWithIndex.collect {
          case (g, i) if counts(g) >= 2 => i until (i + n)
        }.flatten.toSet
        val covch = covered.toSeq.map(j => words(j).length).sum
        round4(covch.toDouble / wchars)
      }
    }
    val pass =
      if (tops(0) <= 0.20 && tops(1) <= 0.18 && tops(2) <= 0.16 &&
        dups(0) <= 0.15 && dups(1) <= 0.14 && dups(2) <= 0.13 &&
        dups(3) <= 0.12 && dups(4) <= 0.11 && dups(5) <= 0.10) 1L
      else 0L
    (docId, tops, dups, pass)
  }

  private def collectMetrics(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Seq[Double], Seq[Double], Long)] =
    df.collect().map { r =>
      r.getLong(0) -> ((2 to 4).map(n => r.getAs[Double](s"top$n")),
        (5 to 10).map(n => r.getAs[Double](s"dup$n")),
        r.getAs[Long]("pass"))
    }.toMap

  test("pipeline_gopher_repetition: driver-side recompute is exact " +
      "over the real corpus") {
    val got = collectMetrics(
      SparkEntry.queries("pipeline_gopher_repetition")(spark, Sf0001))
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.length == got.size)
    docs.foreach { case (id, text) =>
      val (_, tops, dups, pass) = reference(id, text)
      val (gt, gd, gp) = got(id)
      assert(gt == tops, s"doc $id top fractions: got $gt want $tops")
      assert(gd == dups, s"doc $id dup fractions: got $gd want $dups")
      assert(gp == pass, s"doc $id pass flag")
    }
    // the rule set discriminates on the real corpus
    val passes = got.values.map(_._3).toSeq
    assert(passes.contains(1L) && passes.contains(0L),
      "pass flag must discriminate on the corpus")
  }

  test("pipeline_gopher_repetition: designed corpus exercises the " +
      "dup-coverage union, with hand-computed anchors") {
    import spark.implicits._
    val docs = Seq(
      // "x y z w v" repeats at pos 0 and 5: dup5 covers positions
      // 0..9 (10 one-char words of 12) = 0.8333; 6-grams all unique.
      // Bigrams at count 2: "x y","y z","z w","w v" -> top asc "w v",
      // chars = 2*3 of len 23 = 0.2609.
      (100L, "x y z w v x y z w v a b"),
      // OVERLAPPING duplicated 5-grams ("a a a a a" x6 starts in 10
      // tokens): union covers all 10 positions exactly once = 1.0 —
      // a sum over occurrences would overcount to 3.0. The single
      // 10-gram occurs once, so dup10 stays 0.
      (101L, "a a a a a a a a a a"),
      // no repetition at all: every dup lane 0
      (102L, "q w e r t y u i o p")
    ).toDF("doc_id", "text")
    val got = collectMetrics(
      TextOps.gopherRepetition(docs, "doc_id", "text"))
    // hand-computed anchors (independent of the reference function)
    val (t100, d100, _) = got(100L)
    assert(t100(0) == round4(6.0 / 23))
    assert(d100 == Seq(round4(10.0 / 12), 0.0, 0.0, 0.0, 0.0, 0.0))
    val (t101, d101, p101) = got(101L)
    assert(d101 == Seq(1.0, 1.0, 1.0, 1.0, 1.0, 0.0))
    assert(t101(0) == round4(9.0 * 3 / 19)) // "a a" x9 of 19 chars
    assert(p101 == 0L)
    // no repetition: all dup lanes 0 — but a SHORT doc fails the top
    // rules anyway (one 4-gram is 7 of 19 chars > 0.16): the top lanes
    // measure concentration, and everything concentrates in 10 words.
    val (t102, d102, p102) = got(102L)
    assert(d102.forall(_ == 0.0))
    assert(t102(2) == round4(7.0 / 19) && p102 == 0L)
    // and the reference function agrees on every designed doc
    Seq((100L, "x y z w v x y z w v a b"),
      (101L, "a a a a a a a a a a"),
      (102L, "q w e r t y u i o p")).foreach { case (id, text) =>
      val (_, tops, dups, pass) = reference(id, text)
      assert(got(id) == ((tops, dups, pass)), s"doc $id")
    }
  }

  test("pipeline_source_overlap: driver recompute from raw gram " +
      "strings is exact; every pair present") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val gramSets = docs.groupBy(_._1).view.mapValues(_.flatMap {
      case (_, text) =>
        val w = text.toLowerCase.split(" ", -1)
        if (w.length <= 3) Seq(w.mkString(" "))
        else w.sliding(3).map(_.mkString(" ")).toSeq
    }.toSet).toMap
    val sources = gramSets.keys.toSeq.sorted
    val got = SparkEntry.queries("pipeline_source_overlap")(spark, Sf0001)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val expectedPairs = for {
      i <- sources.indices; j <- (i + 1) until sources.length
    } yield (sources(i), sources(j))
    assert(got.keySet == expectedPairs.toSet,
      "every unordered source pair must be present")
    expectedPairs.foreach { case (a, b) =>
      val (nc, na, nb) = got((a, b))
      assert(na == gramSets(a).size && nb == gramSets(b).size,
        s"per-source distinct-gram sizes for ($a,$b)")
      assert(nc == (gramSets(a) intersect gramSets(b)).size,
        s"intersection for ($a,$b)")
    }
  }

  test("q_cohort_retention: driver recompute is exact; offset-0 rows " +
      "are complete cohorts") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400000000000L))
    val first = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = ev.map { case (u, d) => (first(u), d - first(u), u) }
      .distinct.groupBy(t => (t._1, t._2)).view.mapValues(_.length).toMap
    val sizes = first.values.groupBy(identity).view.mapValues(_.size).toMap
    val got = SparkEntry.queries("q_cohort_retention")(spark, Sf0001)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == cells.keySet)
    got.foreach { case ((cd, off), (nActive, cohortN, pct)) =>
      assert(nActive == cells((cd, off)), s"cell ($cd,$off)")
      assert(cohortN == sizes(cd), s"cohort size $cd")
      assert(pct == round4(nActive.toDouble * 100 / cohortN))
      if (off == 0L)
        assert(nActive == cohortN, "day 0 must contain the full cohort")
    }
  }

  test("multimodal_framesample: stride arithmetic replayed per doc") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, text) =>
      val nBytes = text.getBytes("UTF-8").length
      (0 until nBytes by 64).take(8).zipWithIndex.map {
        case (off, idx) => (id, nBytes.toLong, idx.toLong, off.toLong)
      }
    }.toSet
    val got = SparkEntry.queries("multimodal_framesample")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("graph_link_predict: driver recompute of edges, capped-center " +
      "common neighbors, and Jaccard is exact for the top-50") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("ts"), col("event_id"),
        col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(e => (e._1, e._2 / 3600000000000L)).values
      .flatMap { g =>
        val seq = g.toSeq.sortBy(e => (e._2, e._3)).map(_._4)
        seq.sliding(2).collect {
          case Seq(a, b) if a != b => (math.min(a, b), math.max(a, b))
        }
      }.toSet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = nbrs.view.mapValues(_.size).toMap
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Int]
    nbrs.foreach { case (c, ns) =>
      if (deg(c) <= 64)
        for (a <- ns; b <- ns if a < b) cn((a, b)) = cn.getOrElse((a, b), 0) + 1
    }
    val nonEdges = cn.toSeq.filterNot { case (p, _) => edges.contains(p) }
    val expectTop = nonEdges
      .map { case ((a, b), c) => (a, b, c.toLong, deg(a).toLong,
        deg(b).toLong) }
      .sortBy { case (a, b, c, _, _) => (-c, a, b) }.take(50)
      .map { case (a, b, c, da, db) =>
        (a, b, c, da, db,
          BigDecimal(c.toDouble / (da + db - c))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    val got = SparkEntry.queries("graph_link_predict")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got == expectTop)
  }

  test("graph_ppr: driver fixed-point replay is exact; teleport mass " +
      "stays on the seed side") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), get_json_object(col("props"), "$.k")
        .cast("long")).collect()
      .collect { case r if !r.isNullAt(1) =>
        (r.getLong(0), r.getLong(1) + 1000000L) }
    val edges = ev.flatMap { case (u, i) => Seq((u, i), (i, u)) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seeds = Set(0L, 1L, 2L)
    val unit = 1000000000000000L
    val rInit = unit / seeds.size
    val base = (100 - 85) * rInit / 100
    var rank = nodes.map(n =>
      n -> (if (seeds(n)) rInit else 0L)).toMap
    (1 to 12).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (s, d) =>
        val share = rank(s) / outDeg(s)
        contrib(d) = contrib.getOrElse(d, 0L) + share
      }
      rank = nodes.map(n => n ->
        ((if (seeds(n)) base else 0L) +
          85L * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    val expected = rank.toSeq
      .sortBy { case (n, r) => (-r, n) }.take(20)
      .map { case (n, r) =>
        (n, if (n >= 1000000L) "item" else "user",
          BigDecimal(r / 1e15)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    val got = SparkEntry.queries("graph_ppr")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == expected)
    // proximity property: every seed user outranks every non-seed
    // user in the top-20 (they hold the teleport mass)
    val users = got.filter(_._2 == "user")
    val seedRanks = users.filter(u => seeds(u._1)).map(_._3)
    val otherRanks = users.filterNot(u => seeds(u._1)).map(_._3)
    assert(seedRanks.nonEmpty)
    if (otherRanks.nonEmpty)
      assert(seedRanks.min >= otherRanks.max)
  }

  test("q_twap: driver recompute is exact; twap bounded by the " +
      "per-user value range") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = ev.groupBy(_._1).collect {
      case (u, rows) if rows.length >= 2 =>
        val ordered = rows.sortBy(r => (r._2, r._3))
        val iv = ordered.sliding(2).map { case Array(a, b) =>
          val cents = BigDecimal(a._4 * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val dtMs = (b._2 - a._2) / 1000000L
          (cents, dtMs)
        }.toSeq
        val num = iv.map(x => x._1 * x._2).sum
        val den = iv.map(_._2).sum
        (u, (iv.size.toLong, den,
          BigDecimal(num.toDouble / (den * 100))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = SparkEntry.queries("q_twap")(spark, Sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    // boundedness: the time-weighted mean sits inside the value range
    ev.groupBy(_._1).foreach { case (u, rows) =>
      if (got.contains(u)) {
        val vs = rows.map(_._4)
        assert(got(u)._3 >= vs.min - 0.01 && got(u)._3 <= vs.max + 0.01)
      }
    }
  }

  test("q_release_diff: driver recompute of the derived release and " +
      "the four-way classification is exact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val v1 = docs.map { case (id, t) => id -> md5hex(t) }.toMap
    val v2 = docs.filter(_._1 % 10 != 0).map { case (id, t) =>
      id -> md5hex(if (id % 7 == 0) t + " v2" else t) }.toMap ++
      docs.filter(_._1 % 13 == 0).map { case (id, t) =>
        (id + 1000000L) -> md5hex(t) }.toMap
    val statuses = (v1.keySet ++ v2.keySet).toSeq.map { id =>
      val st =
        if (!v1.contains(id)) "added"
        else if (!v2.contains(id)) "removed"
        else if (v1(id) == v2(id)) "unchanged"
        else "changed"
      (id, st)
    }
    val expected = statuses.groupBy(_._2).map { case (st, rows) =>
      val ids = rows.map(_._1).sorted
      st -> ((ids.size.toLong, md5hex(ids.mkString(","))))
    }
    val got = SparkEntry.queries("q_release_diff")(spark, Sf0001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == expected)
    assert(got.keySet ==
      Set("added", "removed", "changed", "unchanged"))
  }

  test("q_skyline: driver Pareto recompute is exact; frontier is " +
      "strictly increasing in both columns; no single-partition plan") {
    val pts = spark.read.parquet(s"$Sf0001/lineitem.parquet")
      .select(col("l_extendedprice"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    // reference: per-price max qty, then keep points strictly above
    // every cheaper point's qty
    val g = pts.groupBy(_._1).view.mapValues(_.map(_._2).max)
      .toSeq.sortBy(_._1)
    var best = Long.MinValue
    val expected = g.flatMap { case (p, q) =>
      if (q > best) { best = q; Some((p, q)) } else None
    }.toSet
    // independent O(n·frontier) dominance check of the same set
    expected.foreach { case (p, q) =>
      assert(!pts.exists { case (p2, q2) =>
        (p2 <= p && q2 >= q) && (p2 < p || q2 > q) },
        s"($p,$q) is dominated")
    }
    val got = SparkEntry.queries("q_skyline")(spark, Sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(got.toSet == expected)
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._1 < b._1 && a._2 < b._2,
          "frontier must strictly increase in both columns")
      case _ =>
    }
    val plan = SparkEntry.queries("q_skyline")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan.take(1500))
  }

  test("text_hash_features: driver replay of the signed hashing " +
      "vectorizer is exact; both signs occur") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var sawNeg = false
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val fs = scala.collection.mutable.Map.empty[Long, Long]
      text.toLowerCase.split(" ", -1).foreach { w =>
        val h = java.lang.Long.parseLong(md5hex(w).take(15), 16)
        val sgn = if ((h / 64) % 2 == 0) 1L else -1L
        val b = h % 64
        fs(b) = fs.getOrElse(b, 0L) + sgn
      }
      val nz = fs.toSeq.filter(_._2 != 0L).sortBy(_._1)
      if (nz.exists(_._2 < 0)) sawNeg = true
      val ser = nz.map { case (b, f) => s"$b:$f" }.mkString("|")
      (id, (nz.size.toLong, nz.map(x => math.abs(x._2)).sum,
        md5hex(ser)))
    }.toMap
    val got = SparkEntry.queries("text_hash_features")(spark, Sf0001)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == expected)
    assert(sawNeg, "no negative weight — signed hashing unexercised")
  }

  test("text_collocations: driver PMI recompute is exact; min-count " +
      "floor holds; ranking follows the lift") {
    val texts = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("text")).collect().map(_.getString(0).toLowerCase)
    val toks = texts.flatMap(_.split(" ", -1))
    val wc = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tw = toks.length.toLong
    val bgs = texts.flatMap { t =>
      val w = t.split(" ", -1)
      if (w.length < 2) Seq.empty[(String, String)]
      else w.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val tb = bgs.length.toLong
    val bc = bgs.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 5L).toMap
    val expected = bc.toSeq.map { case ((a, b), nab) =>
      val lift = nab.toDouble * tw * tw / (tb.toDouble * wc(a) * wc(b))
      (s"$a $b", nab, wc(a), wc(b), lift)
    }.sortBy { case (g, _, _, _, l) => (-l, g) }.take(30)
      .map { case (g, nab, na, nb, l) =>
        (g, nab, na, nb, BigDecimal(math.log(l))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val got = SparkEntry.queries("text_collocations")(spark, Sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.forall(_._2 >= 5L))
  }

  test("pipeline_gopher_repetition: the kernel form is shuffle-free " +
      "(one compiled map pass, no Exchange of any kind)") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    // EnsureRequirements only runs in the executed plan; under AQE the
    // tree hides behind AdaptiveSparkPlanExec, so check the plan
    // string (which prints the full initial plan)
    val plan = TextOps.gopherRepetition(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("gopher_repetition"), plan.take(2000))
  }
}
