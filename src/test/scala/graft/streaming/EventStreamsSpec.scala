package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class EventStreamsSpec extends SparkSpec {

  lazy val batchEvents =
    EventStreams.canonicalEvents(Tables.events(spark, Sf0001))

  test("streaming windowed stats == batch windowed stats") {
    // stage the canonical events as a parquet dir for the file source
    val dir = Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val q = EventStreams.windowedStats(stream)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .orderBy(col("window_start"), col("event_type")).collect()
      val batch = EventStreams.windowedStats(batchEvents)
        .orderBy(col("window_start"), col("event_type")).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    } finally q.stop()
  }

  test("streaming hopping-window stats == batch hopping-window stats") {
    val dir = Files.createTempDirectory("graft-hop").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val q = EventStreams
      .windowedStats(stream, "1 hour", slide = Some("30 minutes"))
      .writeStream.format("memory").queryName("hop_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hop_out")
        .orderBy(col("window_start"), col("event_type")).collect()
      val batch = EventStreams
        .windowedStats(batchEvents, "1 hour", slide = Some("30 minutes"))
        .orderBy(col("window_start"), col("event_type")).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      // every event lands in exactly window/slide = 2 windows
      val nEvents = batchEvents.count()
      val totalCount = batch.map(_.getLong(2)).sum
      assert(totalCount == 2 * nEvents,
        s"hopping windows must double-count: $totalCount vs $nEvents")
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    } finally q.stop()
  }

  test("streaming funnel stages == batch conditional-min cascade") {
    import spark.implicits._
    import EventStreams.UserEvent
    val dir = Files.createTempDirectory("graft-funnel").toString
    val typed = batchEvents
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[UserEvent]
    typed.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[UserEvent]].schema)
      .parquet(dir)
      .withWatermark("ts", "1 minute")
      .as[UserEvent]
    val q = EventStreams.funnelStages(spark, stream)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("funnel_out")
        .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

      // batch reference: the q_funnel conditional-min cascade
      val dayNs = 86400000000000L
      val ev = Tables.events(spark, Sf0001)
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + dayNs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + dayNs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val u1 = s1.collect().map(_.getLong(0)).toSet
      val u2 = s2.collect().map(_.getLong(0)).toSet
      val u3 = s3.collect().map(_.getLong(0)).toSet
      val batchStage = u1.map(u =>
        u -> (if (u3(u)) 3 else if (u2(u)) 2 else 1)).toMap

      assert(streamed.nonEmpty)
      batchStage.foreach { case (u, st) =>
        assert(streamed.getOrElse(u, 0) == st,
          s"user $u: streaming ${streamed.get(u)} vs batch $st")
      }
      // users never seen in the funnel tables must be at stage 0
      streamed.foreach { case (u, st) =>
        if (!u1(u)) assert(st == 0, s"user $u: stage $st without a view")
      }
    } finally q.stop()
  }

  test("persisted bloom artifact gates a document stream map-side") {
    import spark.implicits._
    import graft.ops.DedupOps
    import graft.functions.HashFunctions
    // the per-eval-release artifact built ONCE from the eval set...
    val evalSet = Seq((900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val bytes = DedupOps.buildEvalBloom(
      DedupOps.evalShingleGrams(evalSet, "text"))
    // ...probed by a CONTINUOUS document stream with a stateless
    // codegen'd filter — no eval re-read, no state, no shuffle
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // leak
      (2L, "prefix words alpha beta gamma more trailing text"), // partial
      (3L, "completely unrelated content with different words"),
      (4L, "nothing shared here either plainly"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-bloomstream").toString
    docs.write.mode("overwrite").parquet(dir)
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.filter(exists(
        HashFunctions.shingleHashes(DedupOps.tokens(col("text")), 3),
        h => DedupOps.bloomMightContain(bytes, h)))
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = gate(stream).select(col("doc_id"))
      .writeStream.format("memory").queryName("bloom_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bloom_gate")
        .collect().map(_.getLong(0)).toSet
      val batch = gate(docs).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch,
        "streaming bloom gate must equal the batch gate")
      assert(Set(1L, 2L).subsetOf(streamed),
        "docs sharing eval shingles must survive the gate")
      // FPs are possible but these two docs share no shingles AND the
      // batch equality above already pins the exact behavior
    } finally q.stop()
  }

  test("streaming CMS across micro-batches is byte-identical to the batch sketch") {
    import spark.implicits._
    import EventStreams.{GroupItem, GroupSketch}
    import graft.functions.{CMSBuffer, CountMin}
    val dir = Files.createTempDirectory("graft-cms").toString
    val depth = 4; val width = 128
    def rows(offset: Int) = (0 until 500).map { i =>
      GroupItem(s"g${i % 2}", if (i % 3 == 0) "hot" else s"u${offset + i}")
    }
    rows(0).toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[GroupItem]].schema)
      .parquet(dir).as[GroupItem]
    val out = EventStreams.cmsSketchStream(spark, stream, depth, width)
    val captured =
      scala.collection.mutable.ArrayBuffer[(Long, GroupSketch)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[GroupSketch], id: Long) =>
        captured.synchronized {
          captured ++= batch.collect().map((id, _))
        }; ()
      }.start()
    try {
      q.processAllAvailable()
      rows(1000).toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      // last emission per group vs the batch aggregate over ALL rows:
      // CMS merge is exact, so the bytes must be EQUAL
      val finalSketch = captured.groupBy(_._2.group).map {
        case (g, rs) => g -> rs.maxBy(_._1)._2
      }
      val all = (rows(0) ++ rows(1000)).toDF("group", "item")
      finalSketch.foreach { case (g, gs) =>
        val batchBytes = all.filter(col("group") === g)
          .agg(CountMin.cmsSketch(col("item"), depth, width))
          .head.getAs[Array[Byte]](0)
        assert(java.util.Arrays.equals(gs.sketch, batchBytes),
          s"group $g: streaming sketch != batch sketch")
        // and the probe side agrees on the planted hot key
        val cms = CMSBuffer.fromBytes(gs.sketch, depth, width)
        val trueHot = (rows(0) ++ rows(1000))
          .count(r => r.group == g && r.item == "hot")
        assert(cms.estimate("hot") >= trueHot,
          s"group $g: hot underestimated")
      }
      assert(finalSketch.keySet == Set("g0", "g1"))
    } finally q.stop()
  }

  test("streaming MG heavy-hitter candidates keep the containment guarantee") {
    import spark.implicits._
    import EventStreams.{GroupItem, GroupCandidates}
    val dir = Files.createTempDirectory("graft-hh").toString
    // skewed per-group items: hot user 7 everywhere, tail spread out
    def rows(offset: Int) = (0 until 600).map { i =>
      val g = s"g${i % 2}"
      val item = if (i % 3 == 0) "hot7" else s"u${offset + i}"
      GroupItem(g, item)
    }
    rows(0).toDF().write.mode("overwrite").parquet(dir)

    val k = 8
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[GroupItem]].schema)
      .parquet(dir).as[GroupItem]
    val out = EventStreams.heavyHitterCandidates(spark, stream, k)
    val captured =
      scala.collection.mutable.ArrayBuffer[(Long, GroupCandidates)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[GroupCandidates], id: Long) =>
        captured.synchronized {
          captured ++= batch.collect().map((id, _))
        }; ()
      }.start()
    try {
      q.processAllAvailable()
      // one file, so the append lands in one rename: a multi-file job
      // commit moves its files in one by one, and a listing between two
      // moves splits the append over two micro-batches
      rows(1000).toDF().coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(captured.map(_._1).distinct.size == 2, "expected 2 batches")
      // final state per group = its emission in the LAST batch it saw
      val finalCands = captured.groupBy(_._2.group).map { case (g, rs) =>
        g -> rs.maxBy(_._1)._2.candidates.toSet
      }
      val all = rows(0) ++ rows(1000)
      all.groupBy(_.group).foreach { case (g, items) =>
        val n = items.size
        val heavy = items.groupBy(_.item).collect {
          case (it, xs) if xs.size > n.toDouble / (k + 1) => it
        }
        assert(heavy.nonEmpty, "fixture must have a heavy item")
        val missing = heavy.filterNot(finalCands(g))
        assert(missing.isEmpty,
          s"group $g lost guaranteed heavy items: ${missing.mkString(",")}")
        assert(finalCands(g).size <= k)
      }
    } finally q.stop()
  }

  test("streaming MG admits a heavy key that first appears in batch 2") {
    // regression for the fromBytes minStored bug: batch 1 fills the
    // per-group summary with tail keys, the state-store round-trip
    // restores a FULL buffer, and the true heavy key arrives only in
    // batch 2 — it must still enter the sketch (MG containment)
    import spark.implicits._
    import EventStreams.{GroupItem, GroupCandidates}
    val dir = Files.createTempDirectory("graft-hh-late").toString
    val k = 4
    (0 until 40).map(i => GroupItem("g", s"tail$i"))
      .toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[GroupItem]].schema)
      .parquet(dir).as[GroupItem]
    val out = EventStreams.heavyHitterCandidates(spark, stream, k)
    val captured =
      scala.collection.mutable.ArrayBuffer[(Long, GroupCandidates)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[GroupCandidates], id: Long) =>
        captured.synchronized {
          captured ++= batch.collect().map((id, _))
        }; ()
      }.start()
    try {
      q.processAllAvailable()
      // batch 2: late_hot is heavy over the WHOLE stream
      // (60 > 110/(k+1) = 22) but was absent from batch 1
      ((0 until 60).map(_ => GroupItem("g", "late_hot")) ++
        (0 until 10).map(i => GroupItem("g", s"tail2_$i")))
        .toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      val last = captured.maxBy(_._1)._2
      assert(last.candidates.contains("late_hot"),
        s"late heavy key lost after state round-trip: " +
          last.candidates.mkString(","))
    } finally q.stop()
  }

  test("expiring MG heavy hitters evict idle groups on event-time timeout") {
    import spark.implicits._
    import EventStreams.{GroupItemTs, GroupSummary}
    val dir = Files.createTempDirectory("graft-hh-exp").toString
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    def at(plusMin: Int) =
      new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    def gi(g: String, item: String, plusMin: Int) =
      GroupItemTs(g, item, at(plusMin))
    // batch 1: groups a and b both active; hot_b is heavy in b
    val b1 = (0 until 30).map(_ => gi("b", "hot_b", 0)) ++
      (0 until 10).map(i => gi("b", s"bt$i", 0)) ++
      (0 until 10).map(i => gi("a", s"at$i", 0))
    b1.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[GroupItemTs]].schema)
      .parquet(dir)
      .withWatermark("ts", "1 minute")
      .as[GroupItemTs]
    val out = EventStreams.heavyHitterCandidatesExpiring(
      spark, stream, k = 8, idleMs = 30 * 60 * 1000L)
    val captured =
      scala.collection.mutable.ArrayBuffer[(Long, GroupSummary)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[GroupSummary], id: Long) =>
        captured.synchronized {
          captured ++= batch.collect().map((id, _))
        }; ()
      }.start()
    try {
      q.processAllAvailable()
      // batch 2: only b stays active, 10 hours later — the watermark
      // moves past a's last item + 30 min idle → a times out
      ((0 until 5).map(_ => gi("b", "hot_b", 600)))
        .toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable() // timeout evaluated against new watermark
      val aEmissions = captured.filter(_._2.group == "a")
      assert(aEmissions.map(_._1).max >= 1,
        s"no post-batch-1 emission for idle group a: $aEmissions")
      // eviction emits the FINAL summary: last-known candidates with
      // the evicted flag, not a tombstone — a consumer reads the
      // group's closing heavy-hitter set straight off this row
      val aFinal = aEmissions.maxBy(_._1)._2
      assert(aFinal.evicted,
        s"idle group a not evicted: ${aFinal.candidates.mkString(",")}")
      val aLastUpdate = aEmissions.filter(!_._2.evicted).maxBy(_._1)._2
      assert(aFinal.candidates.toSeq == aLastUpdate.candidates.toSeq,
        s"final summary ${aFinal.candidates.mkString(",")} != last " +
          s"update ${aLastUpdate.candidates.mkString(",")}")
      assert(aFinal.candidates.nonEmpty,
        "final summary lost the last-known candidates")
      // active group keeps the containment guarantee for its period
      val bFinal = captured.filter(_._2.group == "b").maxBy(_._1)._2
      assert(bFinal.candidates.contains("hot_b") && !bFinal.evicted)
      // batch 3: a reappears — its sketch restarted from empty
      ((0 until 3).map(_ => gi("a", "a_new", 601)))
        .toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      val aBack = captured.filter(_._2.group == "a").maxBy(_._1)._2
      assert(aBack.candidates.toSeq == Seq("a_new"),
        s"reappeared group must restart fresh: " +
          aBack.candidates.mkString(","))
    } finally q.stop()
  }

  test("streaming funnel evicts users whose funnel can no longer advance") {
    import spark.implicits._
    import EventStreams.{UserEvent, FunnelProgress}
    val dir = Files.createTempDirectory("graft-funnel-exp").toString
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    def at(plusMin: Int) =
      new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    def ev(uid: Long, typ: String, plusMin: Int) =
      UserEvent(uid, at(plusMin), typ, 1.0)
    // batch 1: user 1 reaches stage 2 (view+click); user 2 completes
    // the funnel (stage 3); user 3 only views
    Seq(ev(1L, "view", 0), ev(1L, "click", 1),
      ev(2L, "view", 0), ev(2L, "click", 1), ev(2L, "purchase", 2),
      ev(3L, "view", 0))
      .toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[UserEvent]].schema)
      .parquet(dir)
      .withWatermark("ts", "1 minute")
      .as[UserEvent]
    // 30-minute step window so the timeline stays short
    val out = EventStreams.funnelStages(spark, stream,
      windowMs = 30 * 60 * 1000L)
    val captured =
      scala.collection.mutable.ArrayBuffer[(Long, FunnelProgress)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[FunnelProgress], id: Long) =>
        captured.synchronized {
          captured ++= batch.collect().map((id, _))
        }; ()
      }.start()
    try {
      q.processAllAvailable()
      // batch 2: an unrelated user 10 hours later advances the
      // watermark far past every batch-1 deadline
      Seq(ev(99L, "view", 600)).toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable() // timeouts evaluated against new watermark
      // each evicted user re-emits their final stage on timeout
      def lastStage(uid: Long): Int =
        captured.filter(_._2.user_id == uid).maxBy(_._1)._2.stage
      assert(lastStage(1L) == 2)
      assert(lastStage(2L) == 3)
      assert(lastStage(3L) == 1)
      val postB1 = captured.filter { case (bid, p) =>
        bid >= 1 && Set(1L, 2L, 3L).contains(p.user_id) }
      assert(postB1.nonEmpty, "no eviction emissions after batch 1")
      // batch 3: user 1 reappears with a purchase that WOULD have been
      // stage 3 pre-eviction — evicted state restarts at 0, and a
      // purchase alone advances nothing (the batch query backfills)
      Seq(ev(1L, "purchase", 601)).toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(lastStage(1L) == 0,
        "evicted user must restart from empty state")
    } finally q.stop()
  }

  test("watermark drops too-late events from windowed aggregation") {
    import java.sql.Timestamp
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-late").toString
    def write(rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.mode("append").parquet(dir)
    // batch 1: an event at 10:00 and one at 14:00 — the 14:00 event
    // advances the watermark to 12:00 (2h delay)
    write(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 14:00:00", 1L, "view", 1.0, "{}")))
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventStreams.windowedStats(stream)
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: one event at 09:30 (before the 12:00 watermark — its
      // 09:00 window is closed and must be DROPPED) and one at 15:00
      write(Seq(
        (3L, "2024-01-01 09:30:00", 1L, "view", 100.0, "{}"),
        (4L, "2024-01-01 15:00:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // advance the watermark far enough to close and emit everything
      write(Seq((5L, "2024-01-02 00:00:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      val out = spark.table("late_out")
        .select(col("window_start"), col("n"), col("total_value"))
        .collect()
        .map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getDouble(2))))
        .toMap
      // the 10:00 window closed with only event 1; the late 09:30
      // event (value 100) appears in NO window
      assert(out("2024-01-01 10:00:00.0") == ((1L, 1.0)), out.toString)
      assert(!out.contains("2024-01-01 09:00:00.0"), out.toString)
      assert(out.values.map(_._2).sum < 100.0,
        s"late event leaked into a window: $out")
    } finally q.stop()
  }

  test("streaming dedup drops replayed events") {
    val dir = Files.createTempDirectory("graft-dedup").toString
    // stage the same events twice — a replayed source
    batchEvents.write.mode("overwrite").parquet(dir)
    batchEvents.write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val q = EventStreams.dedupStream(stream, "event_id")
      .groupBy().count()
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").head.getLong(0)
      assert(n == batchEvents.count(),
        s"expected ${batchEvents.count()} unique events, got $n")
    } finally q.stop()
  }

  test("stream-stream attribution join == batch join") {
    val dir = Files.createTempDirectory("graft-ss").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val q = EventStreams.clickAttribution(stream)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select(col("click_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = EventStreams.clickAttribution(batchEvents)
        .select(col("click_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("last-touch resolved downstream of the streaming all-pairs sink == batch lastTouchAttribution") {
    // the documented streaming shape: the bounded all-pairs join runs
    // IN the stream, last-touch top-1 resolves on the sink's output —
    // together they must equal the batch lastTouchAttribution
    val dir = Files.createTempDirectory("graft-lt").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val q = EventStreams.clickAttribution(stream)
      .writeStream.format("memory").queryName("lt_pairs")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("click_id"))
        .orderBy(col("view_ts").desc, col("view_id").desc)
      val downstream = spark.table("lt_pairs")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("click_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = EventStreams.lastTouchAttribution(batchEvents)
        .select(col("click_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(downstream.nonEmpty)
      assert(downstream == batch)
    } finally q.stop()
  }

  test("streaming sessionize emits timed-out sessions and evicts state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sess").toString
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    def ev(id: Long, user: Long, plusMin: Int) = (id,
      new java.sql.Timestamp(t0.getTime + plusMin * 60000L), user,
      "click", 1.0, "{}")
    // batch 1: user 1 has two events 5 min apart (one session)
    Seq(ev(1, 1, 0), ev(2, 1, 5)).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(dir)
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStreams.UserEvent]
    val q = EventStreams.sessionize(spark, stream, gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0,
        "session still open after batch 1")
      // batch 2: a far-future event from ANOTHER user pushes the
      // watermark past user 1's last event + gap → timeout fires
      Seq(ev(3, 2, 600)).toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      // one more empty-ish cycle so the timeout (evaluated against the
      // updated watermark) processes
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .filter(col("user_id") === 1L).collect()
      assert(sessions.length == 1,
        s"expected user 1's session closed by timeout, got ${sessions.length}")
      assert(sessions.head.getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }

  test("stateful sessionize matches batch window sessionization") {
    import spark.implicits._
    val typed = batchEvents
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStreams.UserEvent]
    // batch-mode flatMapGroupsWithState sees each user's full history
    val stateful = EventStreams.sessionize(spark, typed, gapMs = 30 * 60 * 1000L)
    val batch = EventStreams.sessionizeBatch(
      batchEvents.select(col("user_id"), col("ts"), col("value")),
      gapMs = 30 * 60 * 1000L)
    // the stateful path emits only CLOSED sessions (the final open
    // session per user stays in state) — so it must be a subset
    val closedCount = stateful.count()
    val batchCount = batch.count()
    val users = batchEvents.select(countDistinct(col("user_id"))).head.getLong(0)
    assert(closedCount == batchCount - users,
      s"closed=$closedCount batch=$batchCount users=$users")
    // spot-check one user's closed sessions agree with the batch result
    val u = batchEvents.select(col("user_id")).head.getLong(0)
    val sb = batch.filter(col("user_id") === u)
      .orderBy(col("session_start"))
      .collect().map(r => (r.getTimestamp(1), r.getLong(3)))
    val ss = stateful.filter(col("user_id") === u)
      .orderBy(col("session_start"))
      .collect().map(s => (s.session_start, s.n_events))
    assert(ss.toSeq == sb.toSeq.dropRight(1))
  }
}
