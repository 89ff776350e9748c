package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import graft.{SparkEntry, Tables}

/** One benchmark run in one JVM: a closed loop with a single client that
  * runs `--passes` passes over `--queries` on `--data`, each pass in an
  * order drawn from `--seed`. Before timing, one untimed prime pass runs
  * every query, fills graft's on-disk caches and records each result's
  * row count and content fingerprint, and one untimed warm pass lets
  * the JIT compile the hot paths; the line `perfbench-ready` then marks
  * the end of set-up. The last stdout line is
  * `perfbench-result <json>` with every raw sample; perfbench/run.py
  * checks it against the expected outputs and derives the metrics.
  *
  * With `--trace 1`, listeners are attached and every timed execution
  * is recorded as a span tree (see [[Spans]]), written to `--spans`. */
object Main {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, comparable with the
    * millisecond timestamps Spark puts on its listener events. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** The session settings of `graft.Bench.run`, at `local[4]`. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "10000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Timed(query: String, pass: Int, seconds: Double,
      rows: Long, error: Option[String], spans: Seq[Span], events: Events)

  /** Runs one query the way a user would: build the DataFrame, plan
    * it, execute it. With a tracer, returns the execution's span tree. */
  def execute(spark: SparkSession, data: String, query: String, pass: Int,
      trace: Int, tracer: Option[Tracer]): Timed = {
    tracer.foreach(_.take())
    val t0 = now()
    var t1, t2 = t0
    var df: DataFrame = null
    val (rows, error) = try {
      df = SparkEntry.queries(query)(spark, data)
      t1 = now()
      df.queryExecution.executedPlan
      t2 = now()
      (df.queryExecution.toRdd.count(), None)
    } catch { case NonFatal(e) => (-1L, Some(oneLine(e))) }
    val t3 = now()
    tracer match {
      case None => Timed(query, pass, (t3 - t0) / 1e3, rows, error, Nil, null)
      case Some(tr) =>
        val ev = tr.take()
        // the final toRdd runs without an SQL execution id, so Spark posts
        // no execution events for it: count it and its exchanges here
        if (df != null) {
          ev.add("sql_execs", 1)
          ev.add("exchanges", Tracer.exchanges(df.queryExecution.executedPlan))
        }
        if (t1 == t0) t1 = t3
        if (t2 == t0) t2 = t3
        val root = Span(trace, 0, -1, "query:" + query, t0, t3)
        val open = Seq(root, Span(trace, 1, 0, "build", t0, t1),
          Span(trace, 2, 0, "plan", t1, t2), Span(trace, 3, 0, "execute", t2, t3))
        // distinct: an action the closure runs on the Dataset it returns
        // reports that Dataset's phases through the listener as well
        val mainPhases =
          if (df == null) Nil else Tracer.phaseSpans(df.queryExecution)
        val events = ev.jobs.map { case (s, e) => ("job", s, e) } ++
          (ev.phases ++ mainPhases).distinct.map { case (n, s, e) => ("phase:" + n, s, e) }
        val children = events.zipWithIndex.map { case ((n, s, e), i) =>
          Span(trace, 4 + i, Spans.parentOf(open, s).id, n, s, e) }
        Timed(query, pass, (t3 - t0) / 1e3, rows, error,
          open ++ children.toSeq, ev)
    }
  }

  def oneLine(e: Throwable): String =
    e.toString.take(300).map(c => if (c < ' ') ' ' else c)

  def main(args: Array[String]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val queries = opt("queries").split(',').toSeq
    val data = opt("data")
    val passes = opt("passes").toInt
    val rnd = new scala.util.Random(opt("seed").toLong)
    val spark = session()
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None

    val prime = queries.map { q =>
      val t0 = now()
      try {
        val df = SparkEntry.queries(q)(spark, data)
        val rows = df.collect()
        Map("query" -> q, "rows" -> rows.length,
          "fingerprint" -> Fingerprint(df.schema.fieldNames, rows),
          "seconds" -> (now() - t0) / 1e3)
      } catch { case NonFatal(e) => Map("query" -> q, "error" -> oneLine(e)) }
    }
    val warmed = rnd.shuffle(queries).map(execute(spark, data, _, 0, 0, None))
    println("perfbench-ready")
    System.out.flush()

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val timed = mutable.ArrayBuffer.empty[Timed]
    for (p <- 0 until passes) {
      val t0 = now()
      rnd.shuffle(queries).foreach { q =>
        timed += execute(spark, data, q, p, timed.size, tracer)
      }
      passSeconds += (now() - t0) / 1e3
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

    def record(t: Timed) = Map("query" -> t.query, "pass" -> t.pass,
      "seconds" -> t.seconds, "rows" -> t.rows) ++ t.error.map("error" -> _)
    val result = mutable.Map[String, Any](
      "prime" -> prime,
      "warm" -> warmed.map(record),
      "passes" -> passSeconds.toSeq,
      "timed" -> timed.toSeq.map(record))
    if (tracer.isDefined) {
      val scratch = Seq(sys.props("java.io.tmpdir")) ++
        spark.sparkContext.getConf.getOption("spark.local.dir")
      result("layers") = Layers.perPass(timed.toSeq, passes) ++ Map(
        "jvm.heap_peak_mb" -> heapPeakMb,
        "storage.scratch_mb" -> scratch.map(d => Layers.du(new File(d))).sum / 1e6,
        "trace.sweep_s" -> Layers.median(passSeconds.toSeq))
      result("query_layers") = Layers.perQuery(timed.toSeq)
      val w = new PrintWriter(opt("spans"), "UTF-8")
      try timed.foreach(_.spans.foreach(s => w.println(Serialization.write(Map(
        "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))))
      finally w.close()
    }
    println("perfbench-result " + Serialization.write(result.toMap))
    System.out.flush()
    spark.stop()
  }
}

/** Per-layer numbers from the traced executions. Times are seconds and
  * sizes megabytes per pass (the run's total divided by its passes),
  * except peaks, which are maxima over the run. */
object Layers {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()

  def perPass(timed: Seq[Main.Timed], passes: Int): Map[String, Double] = {
    val ls = timed.map(t => Spans.layers(t.spans))
    def total(k: String) = timed.map(_.events.count(k)).sum.toDouble / passes
    def mb(k: String) = total(k) / 1e6
    def sum(f: Spans.Layers => Double) = ls.map(f).sum / passes / 1e3
    val inJob = sum(_.inJob)
    val taskS = total("task_ms") / 1e3
    Map(
      "Tables.rows_read" -> total("rows_read"),
      "Tables.bytes_read_mb" -> mb("bytes_read"),
      "SparkEntry.build_s" -> sum(_.build),
      "SparkEntry.build_jobs" -> ls.map(_.buildJobs).sum.toDouble / passes,
      "plans.planning_s" -> sum(_.planning),
      "plans.sql_execs" -> total("sql_execs"),
      "plans.aqe_updates" -> total("aqe_updates"),
      "plans.exchanges" -> total("exchanges"),
      "ops.in_job_s" -> inJob,
      "ops.task_s" -> taskS,
      "ops.parallelism" -> (if (inJob > 0) taskS / inJob else 0.0),
      "ops.stages" -> total("stages"),
      "ops.tasks" -> total("tasks"),
      "ops.shuffle_read_mb" -> mb("shuffle_read"),
      "ops.shuffle_write_mb" -> mb("shuffle_write"),
      "ops.spill_mb" -> mb("spill"),
      "ops.gc_s" -> total("gc_ms") / 1e3,
      "ops.peak_mem_mb" -> timed.map(_.events.peakTaskMem).max / 1e6,
      "ops.task_retries" -> total("task_retries"),
      "driver.gap_s" -> sum(_.gap),
      "driver.jobs" -> ls.map(_.jobs).sum.toDouble / passes,
      "streaming.batches" -> timed.map(_.events.batchMs.size).sum.toDouble / passes,
      "streaming.batch_p50_s" ->
        median(timed.flatMap(_.events.batchMs).map(_ / 1e3)),
      "storage.bytes_written_mb" -> mb("bytes_written"),
      "storage.files_written" -> total("files_written"),
      "storage.pinned_mb" -> mb("pinned"),
      "trace.wall_s" -> sum(_.wall))
  }

  /** Median layer split per query, for the trace summary. */
  def perQuery(timed: Seq[Main.Timed]): Map[String, Map[String, Double]] =
    timed.groupBy(_.query).map { case (q, ts) =>
      val ls = ts.map(t => Spans.layers(t.spans))
      def med(f: Spans.Layers => Double) = median(ls.map(f)) / 1e3
      q -> Map("wall_s" -> med(_.wall), "build_s" -> med(_.build),
        "planning_s" -> med(_.planning), "in_job_s" -> med(_.inJob),
        "gap_s" -> med(_.gap), "jobs" -> median(ls.map(_.jobs.toDouble)))
    }
}

/** Order-insensitive content fingerprint of a query result: each row is
  * rendered canonically (floating point rounded to 6 significant
  * digits, array and map elements sorted), hashed to 64 bits, and the
  * hashes are summed, together with the hash of the column names. */
object Fingerprint {
  private val mc = new java.math.MathContext(6)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 17).toLong << 32) | (stringHash(s, 31).toLong & 0xffffffffL)
  }

  def apply(columns: Seq[String], rows: Seq[Row]): String =
    "%016x".format(rows.map(r => hash64(canon(r))).sum +
      hash64(columns.mkString(",")))
}
