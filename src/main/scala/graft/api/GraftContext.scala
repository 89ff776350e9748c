package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Entry point mirroring the reference's `ExecutionContext`
  * (reference src/execution/mod.rs:16-52): source factories returning a
  * lazily-built [[GraftFrame]], plus `execute` to drain a frame.
  *
  * Differences from the reference, by design (SURVEY §1.4, §3.4):
  * execution is distributed Spark, not a single-threaded batch
  * iterator; `execute` exposes `Iterator[Row]` via `toLocalIterator`
  * (the closest analogue of the reference's pull-based
  * `Iterator<RecordBatch>` at physical_plan/mod.rs:25).
  */
class GraftContext(val spark: SparkSession) {

  /** CSV source with the reference's schema semantics: header-derived
    * column names, every column StringType (header-only inference,
    * reference src/datasources/mod.rs:53-70 — typed columns come from
    * explicit CAST in the query). Headerless files are rejected, as in
    * the reference (src/datasources/mod.rs:69), but with an error
    * instead of a panic. */
  def csv(path: String, hasHeaders: Boolean = true): GraftFrame = {
    require(hasHeaders,
      "headerless CSV is not supported (schema comes from the header)")
    new GraftFrame(spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path))
  }

  /** Parquet source (beyond-reference; the driver's testdata format). */
  def parquet(path: String): GraftFrame =
    new GraftFrame(graft.ops.StorageOps.parquet(spark, path))

  /** JSON-lines source (beyond-reference). */
  def json(path: String): GraftFrame =
    new GraftFrame(spark.read.json(path))

  /** ORC source (beyond-reference; the columnar alternative every
    * large warehouse keeps alongside parquet — same pushdown/pruning
    * machinery applies). */
  def orc(path: String): GraftFrame =
    new GraftFrame(spark.read.orc(path))

  /** Raw text-lines source (beyond-reference): one row per line in a
    * single `value` column — the rawest document-ingest format (one
    * document per line) before any schema exists. */
  def text(path: String): GraftFrame =
    new GraftFrame(spark.read.text(path))

  /** Binary-file source (beyond-reference): one row per file with
    * (path, modificationTime, length, content) — the ingestion path
    * for raw multimodal payloads (images/audio/video) before they
    * become the binary columns [[graft.ops.Multimodal]] processes.
    * `pathGlobFilter` bounds the listing; Spark parallelizes the file
    * reads, so a 100-TB media drop ingests embarrassingly parallel. */
  def binaryFiles(path: String, glob: String = "*"): GraftFrame =
    new GraftFrame(spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path))

  /** In-memory source (reference `InMemoryDataSource`,
    * src/datasources/mod.rs:250-313 — minus its end-of-stream panic,
    * SURVEY §2.6 item 10). */
  def inMemory(schema: StructType, rows: Seq[Row]): GraftFrame = {
    import scala.jdk.CollectionConverters._
    new GraftFrame(spark.createDataFrame(rows.asJava, schema))
  }

  /** All-string in-memory source for quick literal tables. */
  def inMemoryStrings(columns: Seq[String], rows: Seq[Seq[String]]): GraftFrame = {
    val schema = StructType(columns.map(StructField(_, StringType)))
    inMemory(schema, rows.map(Row.fromSeq))
  }

  /** Drain a frame — the reference's `execute()`
    * (src/execution/mod.rs:37-52). */
  def execute(frame: GraftFrame): Iterator[Row] =
    frame.df.toLocalIterator().asInstanceOf[java.util.Iterator[Row]] match {
      case it => new Iterator[Row] {
        def hasNext: Boolean = it.hasNext
        def next(): Row = it.next()
      }
    }
}

object GraftContext {
  /** Build a context with the scale-appropriate local defaults
    * (shuffle partitions sized to cores, AQE on — SURVEY §7). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): GraftContext = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(graft.Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new GraftContext(spark)
  }
}
