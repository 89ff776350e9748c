package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** What [[Tables.sessionConf]] must give every graft session. */
class SessionConfSpec extends SparkSpec {

  test("a second pipeline_ingest_stream run in one session compiles no " +
      "generated code") {
    // the codegen class cache is keyed by (context classloader, source);
    // with per-session artifact isolation every stream start runs under
    // a new session's classloader and compiles all of its plans again
    def run() = SparkEntry.queries("pipeline_ingest_stream")(spark, Sf0001)
      .collect().toSeq
    val first = run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0,
      s"the second run of the same query compiled $compiled classes")
    assert(second == first && first.nonEmpty)
  }

  test("every SparkSession.builder() in src/main applies " +
      "Tables.sessionConf") {
    val builder = "SparkSession.builder()"
    val offenders = MainSources.files
      .flatMap { case (p, text) =>
        Iterator.iterate(text.indexOf(builder))(i =>
          text.indexOf(builder, i + 1)).takeWhile(_ >= 0)
          .filterNot { i =>
            val end = text.indexOf("getOrCreate()", i)
            end > i && text.substring(i, end).contains("Tables.sessionConf")
          }
          .map(i => s"$p:${text.take(i).count(_ == '\n') + 1}")
      }
    assert(offenders.isEmpty,
      "build sessions with .config(Tables.sessionConf) before " +
        "getOrCreate():\n" + offenders.mkString("\n"))
  }
}
