package perfbench

/** One traced interval. Times are epoch milliseconds (fractional for
  * the benchmark's own spans, whole for Spark's event timestamps).
  * `trace` is shared by every span of one query execution; `parent` is
  * the id of the span that was open when this one started (-1 for a
  * root). */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Self-time arithmetic over one execution's span tree, and the layer
  * split the benchmark reports.
  *
  * The benchmark opens `query` (root) and, under it, `build` (the query
  * closure), `plan` (forcing `executedPlan`) and `execute`
  * (`toRdd.count()`). Spark jobs (`job`) and Catalyst phases
  * (`phase:<name>`) from listener events become children of whichever
  * of those was open when they started. */
object Spans {

  /** Length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }

  private def clip(s: Span, within: Span): (Double, Double) =
    (math.max(s.start, within.start), math.min(s.end, within.end))

  private def isPhase(s: Span) = s.name.startsWith("phase:")

  /** A span's duration minus the part of it its children cover. Catalyst
    * reports a phase measured more than once as one interval from its
    * first start, lengthened by each later duration, so a phase interval
    * can cover jobs: phases count by duration, not by covered time. */
  def selfTime(span: Span, children: Seq[Span]): Double = {
    val (phases, other) = children.partition(isPhase)
    span.dur - unionLength(other.map(clip(_, span))) -
      phases.filter(_.start < span.end).map(_.dur).sum
  }

  /** Parent for an event interval: the innermost of `open` (nested
    * benchmark spans, outermost first) that contains its start; events
    * starting before the root still land on the root. */
  def parentOf(open: Seq[Span], start: Double): Span =
    open.reverse.find(s => s.start <= start && start < s.end)
      .getOrElse(open.head)

  /** Per-execution layer split, in milliseconds.
    *  - build: the closure's own time until it first starts a Spark job
    *    (all of it if it starts none), outside Catalyst phases;
    *  - planning: Catalyst phases of every SQL execution, summed;
    *  - inJob: the union of job spans;
    *  - gap: the rest of the time outside jobs and phases —
    *    between the jobs an eager closure starts, and while planning
    *    and executing the final plan.
    * wall = build + planning + inJob + gap; a negative part means an
    * event was attributed to a span that did not contain it. */
  final case class Layers(wall: Double, build: Double, planning: Double,
      inJob: Double, gap: Double, jobs: Int, buildJobs: Int)

  def layers(spans: Seq[Span]): Layers = {
    val root = spans.find(_.parent < 0).get
    val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
    def self(s: Span, upTo: Double) = selfTime(s.copy(end = upTo), kids(s.id))
    val tops = kids(root.id).filter(s => Set("build", "plan", "execute")(s.name))
    val jobs = spans.filter(_.name == "job")
    val build = tops.filter(_.name == "build")
    val buildJobs = jobs.filter(j => build.exists(_.id == j.parent))
    val construction = build.map { b =>
      self(b, (buildJobs.map(_.start) :+ b.end).min) }.sum
    val driverSelf = self(root, root.end) + tops.map(s => self(s, s.end)).sum
    Layers(
      wall = root.dur,
      build = construction,
      planning = spans.filter(isPhase).map(_.dur).sum,
      inJob = unionLength(jobs.map(clip(_, root))),
      gap = driverSelf - construction,
      jobs = jobs.size,
      buildJobs = buildJobs.size)
  }
}
