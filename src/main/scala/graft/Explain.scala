package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan audit: dump `explain("formatted")` for every declared query so
  * scan pruning / pushdown / join strategies / shuffle counts can be
  * reviewed offline. Usage: runMain graft.Explain <sfDir> <outFile>.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config(Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n=== $name ===\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
