package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: 2 args; optional 3rd = comma-separated name
    // filter (substring match) for fast local iteration
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(',').toSeq))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // see Bench: the two allowlisted tiny global windows would spam
    // "No Partition Defined" across the 200-query sweep
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // see Bench: the streaming-loop queries re-emit the
    // ResolveWriteToStream adaptive WARN per micro-batch
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime" +
        ".ResolveWriteToStream",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // trained-model literals: the {{KEY}} placeholders in oracle SQL
    // resolve to bit-deterministic coefficients computed on THIS sfDir
    // (SparkEntry.oracleParams) — the dumped JSON is plain DuckDB SQL
    // with the exact doubles the Spark queries scored with
    val params = SparkEntry.oracleParams(spark, sfDir)
    def substitute(sql: String): String =
      params.foldLeft(sql) { case (acc, (k, v)) =>
        acc.replace(s"{{$k}}", v) }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(substitute(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
