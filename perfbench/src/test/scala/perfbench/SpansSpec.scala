package perfbench

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("union length merges overlapping and touching intervals") {
    assert(Spans.unionLength(Nil) == 0.0)
    assert(Spans.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (3.0, 4.0), (6.0, 7.0))) == 5.0)
    assert(Spans.unionLength(Seq((5.0, 5.0), (4.0, 1.0))) == 0.0)
  }

  test("self time subtracts only the covered part of the span") {
    val parent = Span(0, 1, 0, "execute", 10, 20)
    val kids = Seq(Span(0, 2, 1, "job", 8, 12), Span(0, 3, 1, "job", 11, 13),
      Span(0, 4, 1, "job", 19, 25))
    assert(Spans.selfTime(parent, kids) == 10 - 3 - 1)
  }

  test("layer split of a synthetic span tree") {
    val spans = Seq(
      Span(0, 0, -1, "query:q", 0, 100),
      Span(0, 1, 0, "build", 0, 40),
      Span(0, 2, 0, "plan", 40, 50),
      Span(0, 3, 0, "execute", 50, 100),
      Span(0, 4, 1, "phase:analysis", 2, 5),     // construction phase
      Span(0, 5, 1, "job", 10, 20),              // eager job in the closure
      Span(0, 6, 1, "job", 30, 35),
      Span(0, 7, 2, "phase:planning", 41, 49),
      Span(0, 8, 3, "job", 55, 70),
      Span(0, 9, 3, "job", 60, 80))               // overlaps the previous job
    val l = Spans.layers(spans)
    assert(l.wall == 100)
    assert(l.build == 10 - 3)                   // [0,10) minus the phase
    assert(l.planning == 3 + 8)
    assert(l.inJob == 10 + 5 + 25)
    // driver self time: build 40-3-15=22, plan 2, execute 25; minus build
    assert(l.gap == 22 + 2 + 25 - 7)
    assert(l.build + l.planning + l.inJob + l.gap == l.wall)
    assert(l.jobs == 4 && l.buildJobs == 2)
  }

  test("a phase interval that covers a job counts only its duration") {
    // a phase measured twice: its reported interval spans the job between
    val spans = Seq(
      Span(0, 0, -1, "query:q", 0, 100),
      Span(0, 1, 0, "build", 0, 10),
      Span(0, 2, 0, "plan", 10, 20),
      Span(0, 3, 0, "execute", 20, 100),
      Span(0, 4, 3, "phase:planning", 22, 32),
      Span(0, 5, 3, "job", 25, 60))
    val l = Spans.layers(spans)
    assert(l.planning == 10 && l.inJob == 35)
    assert(l.gap == 10 + 80 - 35 - 10)
    assert(l.build + l.planning + l.inJob + l.gap == l.wall)
  }

  test("events are attributed to the innermost open span") {
    val open = Seq(Span(0, 0, -1, "query:q", 0, 10), Span(0, 1, 0, "build", 0, 4),
      Span(0, 2, 0, "plan", 4, 5), Span(0, 3, 0, "execute", 5, 10))
    assert(Spans.parentOf(open, 4.5).name == "plan")
    assert(Spans.parentOf(open, 0).name == "build")
    assert(Spans.parentOf(open, 12).name == "query:q")
  }

  test("fingerprint ignores row order and float noise, not content") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", Seq(3, 1)))
    val cols = Seq("k", "s", "v")
    val fp = Fingerprint(cols, rows)
    assert(Fingerprint(cols, rows.reverse) == fp)
    assert(Fingerprint(cols, Seq(Row(1L, "a", 0.3), Row(2L, "b", Seq(1, 3)))) == fp)
    assert(Fingerprint(cols, Seq(Row(1L, "a", 0.31), rows(1))) != fp)
    assert(Fingerprint(Seq("k", "s", "w"), rows) != fp)
    assert(Fingerprint(cols, rows :+ rows.head) != fp)
  }

  test("traced layers add up to each query's wall time") {
    val data = Files.createTempDirectory("perfbench-spec").toString
    val gen = new ProcessBuilder("python3", "gen_data.py", data, "--scale", "0.001")
      .inheritIO().start()
    assert(gen.waitFor() == 0)
    val spark = Main.session()
    try {
      val tracer = Some(new Tracer(spark))
      for (q <- Seq("q_tpch3", "graph_communities")) {
        Main.execute(spark, data, q, 0, 0, tracer) // warm
        val t = Main.execute(spark, data, q, 0, 1, tracer)
        assert(t.error.isEmpty && t.rows > 0, q)
        val l = Spans.layers(t.spans)
        val parts = Seq(l.build, l.planning, l.inJob, l.gap)
        assert(l.jobs > 0 && l.planning > 0, s"$q: $l")
        // 5% of wall, and 20 ms for the millisecond event timestamps
        val tolerance = math.max(0.05 * l.wall, 20.0)
        assert(parts.forall(_ >= -tolerance), s"$q: negative layer in $l")
        assert(math.abs(parts.sum - l.wall) <= tolerance, s"$q: $l")
        assert(math.abs(l.wall - t.seconds * 1e3) < 1e-6)
      }
      val eager = Spans.layers(
        Main.execute(spark, data, "graph_communities", 0, 2, tracer).spans)
      assert(eager.buildJobs > 0, "graph_communities runs jobs while building")
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    }
  }
}
