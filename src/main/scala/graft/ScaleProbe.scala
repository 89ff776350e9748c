package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALING PROBE (round-11 verdict item #3): measure the slope, not
  * just the design. Derives a `factor`× corpus from the driver
  * testdata (the AnnOpsSpec hash-jitter trick — no synthetic source
  * outside the provided parquet), runs the historically slowest
  * queries plus a panel of map-shaped sentinels at 1× and `factor`×,
  * and reports the per-query scaling exponent
  *
  *     e = ln(t_big / t_base) / ln(factor)
  *
  * (e≈1 linear, e<1 fixed-cost-dominated, e>1 superlinear). The
  * map-shaped families GATE: any sentinel exponent above the
  * threshold exits nonzero — converting "survives 100×" from prose to
  * a measured number. Results are recorded in PLANS.md per round.
  *
  * Derived tables (scratch, content-signature keyed, reused across
  * runs): documents/events/embeddings replicate `factor`× with
  * id-interleaving (`id·f + copy`) and per-copy jitter — documents
  * get a copy-tagged token appended (copies are NEAR-dups of their
  * base: a realistic crawl's duplicate families, which is exactly the
  * hard case for the dedup queries), embeddings get the ±0.05 hash
  * jitter, events keep their join/graph structure (users replicate,
  * props stay — seeds 0..2 survive as copies of user 0). All other
  * tables copy through unchanged.
  *
  * Usage: runMain graft.ScaleProbe [baseSfDir] [factor] [runs]
  */
object ScaleProbe {

  /** The 15 slowest queries of the round-10 record (BENCH_r10). */
  val SlowPanel: Seq[String] = Seq(
    "pipeline_ingest_stream", "pipeline_pack_incr",
    "pipeline_ingest_drift", "dedup_setsim_exact", "graph_ppr",
    "graph_pagerank", "dedup_suffix_lrs", "pipeline_quality_classifier",
    "pipeline_curriculum_anneal", "pipeline_ingest",
    "dedup_span_maximal", "dedup_span_excise",
    "dedup_substrings_hashed", "dedup_clusters_portable",
    "pipeline_curriculum")

  /** Map-shaped sentinels: scan → per-row kernel → (sort) — the
    * families whose cost MUST scale ~linearly with input bytes. These
    * gate the run. */
  val MapPanel: Seq[String] = Seq(
    "pipeline_gopher_repetition", "q_gopher_quality",
    "multimodal_decode", "multimodal_resize", "text_fingerprint",
    "text_token_count",
    // round-11 codec family: compressed-image inflate+unfilter,
    // heterogeneous magic dispatch, WAV decode+featurize, Y4M frame
    // explode, gzip multi-member recovery — all scan → per-row
    // kernel → sort, so they join the linear-scaling gate
    "multimodal_png", "multimodal_mixed", "multimodal_audio",
    "multimodal_video_frames", "source_gzip", "source_tar",
    // round-12 crawl-ingest family: baseline JPEG decode, 4-format
    // magic dispatch, the quarantine lane (exception unwind instead
    // of stage kill — must stay map-shaped), WARC record framing
    // over the gzip member walk, and the zstd frame walk
    "multimodal_jpeg", "multimodal_mixed4", "pipeline_quarantine",
    "source_warc", "source_zstd",
    // round-13 crawl front-end: progressive JPEG decode, HTTP message
    // parse + de-chunking inside the WARC walk, charset sniff +
    // transcode, the member-granular quarantine walk, and the full
    // production decode stack (HTTP + declared-charset transcode with
    // capture quarantine) — all scan → per-row kernel → sort
    "multimodal_jpeg_progressive", "source_warc_http",
    "source_charset", "source_warc_quarantine",
    "pipeline_crawl_charset",
    // round-14 curation front: the robots/soft-404 gate chain is a
    // pure map front (WARC walk → header/markup/template classify →
    // one 8-row aggregate), so it joins the linear-scaling gate.
    // (pipeline_crawl_neardup is deliberately NOT here: the LSH
    // candidate front is bucket-shaped, the banded dedup family's
    // contract, not the map panel's.)
    "pipeline_crawl_robots")

  /** Exponent gate for the map-shaped panel: honest linear scaling
    * with local-mode noise and per-job fixed cost lands well under
    * this; a superlinear defect (an accidental self-join, a global
    * sort) lands far over it. */
  val MapGate = 1.25

  def deriveScaled(spark: SparkSession, baseDir: String,
      factor: Int): String = {
    val out = graft.ops.StorageOps.artifactPath(spark, baseDir,
      s"scaleprobe_${factor}x")
    val copies = spark.range(factor.toLong).toDF("copy")
    def scaled(name: String): DataFrame = {
      val base = Tables.load(spark, baseDir, name)
      name match {
        case "documents" =>
          // near-dup families of size `factor`: same text with one
          // copy-tagged token PREPENDED (shifts every 16-token segment
          // tile, so copies are segment-NOVEL — the ingest pipeline
          // gates a representative 10x workload instead of excising
          // everything — while minhash shingles still see the family
          // as near-dups, the hard case for the dedup queries)
          base.crossJoin(copies)
            .withColumn("__t",
              when(col("copy") === 0, col("text"))
                .otherwise(concat(lit("jw"), col("copy"), lit("x"),
                  pmod(col("doc_id"), lit(97)), lit(" "), col("text"))))
            .select(
              (col("doc_id") * factor + col("copy")).as("doc_id"),
              col("__t").as("text"),
              col("lang"), col("source"),
              // the base data holds n_chars == strlen(text); keep the
              // invariant exact for the derived rows too
              length(col("__t")).cast("long").as("n_chars"))
        case "embeddings" =>
          base.crossJoin(copies).select(
            (col("vec_id") * factor + col("copy")).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x + pmod(xxhash64(col("vec_id") * factor + col("copy"), i),
                lit(1000)).cast("double") / lit(10000.0) - lit(0.05))
                .cast("float")).as("embedding"),
            col("label"))
        case "events" =>
          // users replicate (user 0's copies are ids 0..f-1, so the
          // graph queries' literal seeds survive); ts normalized to
          // the long-nanos contract Tables.events accepts back
          base.crossJoin(copies).select(
            (col("event_id") * factor + col("copy")).as("event_id"),
            (col("ts") + col("copy")).as("ts"),
            (col("user_id") * factor + col("copy")).as("user_id"),
            col("event_type"), col("value"), col("props"))
        case _ => base
      }
    }
    graft.ops.StorageOps.publish(out)(tmp =>
      Tables.names.foreach { name =>
        scaled(name).write.mode("overwrite").parquet(s"$tmp/$name.parquet")
      })
    out
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

    System.err.println(s"[probe] deriving ${factor}x corpus from $baseDir")
    val bigDir = deriveScaled(spark, baseDir, factor)
    System.err.println(s"[probe] scaled dir: $bigDir")

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // min of `runs` timed runs after one untimed warm-up (the warm-up
    // also builds per-dir cached artifacts so steady state is measured)
    def measure(name: String, dir: String): Double = {
      time(name, dir)
      (1 to runs).map(_ => time(name, dir)).min
    }

    // optional 4th arg: comma-separated substring filter (the Verify
    // convention) for probing a new family without re-timing the
    // whole panel
    val only = args.lift(3).map(_.split(',').toSeq)
    val panel = (SlowPanel ++ MapPanel).distinct
      .filter(n => only.forall(_.exists(n.contains)))
    val rows = panel.map { name =>
      val tBase = measure(name, baseDir)
      val tBig = measure(name, bigDir)
      val e = math.log(tBig / tBase) / math.log(factor.toDouble)
      System.err.println(
        f"[probe] $name%-28s base $tBase%7.2f s  ${factor}x $tBig%7.2f s" +
          f"  exponent $e%5.2f")
      (name, tBase, tBig, e)
    }
    println("| query | t(1x) s | t(" + factor + "x) s | exponent |")
    println("|---|---|---|---|")
    rows.foreach { case (n, a, b, e) =>
      println(f"| $n | $a%.2f | $b%.2f | $e%.2f |")
    }
    val offenders = rows.filter { case (n, _, _, e) =>
      MapPanel.contains(n) && e > MapGate }
    if (offenders.nonEmpty) {
      System.err.println("[probe] GATE FAILED — superlinear map-shaped " +
        s"queries: ${offenders.map(_._1).mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
