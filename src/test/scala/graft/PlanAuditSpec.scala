package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.plans.DecimalSums
import graft.plans.DecimalSumSpec.decimalSums

/** Whole-suite structural anti-pattern gate: builds EVERY declared
  * query and rejects the two scale-killers a plan can silently grow —
  * a cartesian product and a GLOBAL (no partition keys) window over
  * unbounded input. This automates the per-round plan audit that
  * previously lived in PLANS.md prose; a future query (or an operator
  * edit) that introduces either fails `sbt test` rather than
  * surfacing as a 100-TB incident.
  *
  * The physical plan is taken pre-AQE (`queryExecution.sparkPlan`):
  * structural shape — join strategies aside — is decided here, and the
  * tree is traversable (the AQE wrapper hides its children until
  * execution). Iterative operators (pagerank, LPA, suffix array) build
  * their loop state through eager checkpoints at CONSTRUCTION time, so
  * what this spec sees for them is the final read — their per-round
  * plans are gated by their own specs.
  *
  * Allowlisted global windows run over aggregate-sized inputs by
  * construction (a languages-count table, a top-20 list) — documented
  * in PLANS.md; everything else must partition.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose (only) global windows run over provably tiny inputs:
    * pipeline_mix_temperature's scalars live on the per-language
    * aggregate (≤5 rows); text_vocab_coverage's cumulative share on
    * its top-20 list. */
  private val tinyGlobalWindowOk =
    Set("pipeline_mix_temperature", "text_vocab_coverage")

  /** The bench-slowest batch queries (BENCH_DETAIL round 10; the
    * streaming loop is excluded — its returned frame is a bounded
    * driver-local report, the hot work lives in the gated per-batch
    * plans which PLANS.md audits). These are the plans where an
    * interpreted expression taxes every row. */
  private val hotQueries = Seq(
    "dedup_setsim_exact", "graph_pagerank", "pipeline_quality_classifier",
    "dedup_suffix_lrs", "q_tpch21", "q_stats", "pipeline_ingest",
    "dedup_span_maximal", "graph_communities", "dedup_span_stats",
    "dedup_clusters_portable", "dedup_substrings_hashed",
    "dedup_span_excise", "pipeline_curate_neardup", "pipeline_ingest_incr",
    "q_math_funcs", "graph_triangles",
    // round-10c: the seed-teleport pagerank joins the loop family at
    // ~3.5s, and the gopher kernel must STAY a codegen'd map
    "graph_ppr", "pipeline_gopher_repetition")

  /** Interpreted (CodegenFallback) expressions ALLOWED per hot query
    * — (query, expression-class) pairs, each justified; ANY new
    * fallback in any hot query fails the gate (the
    * `text_tokenizer_drift` lesson — an ArrayFilter silently dropped
    * a scan projection out of whole-stage codegen — generalized).
    * Justifications:
    *  - ArrayTransform/ArrayFilter (+ their LambdaFunction /
    *    NamedLambdaVariable children): HOFs over SEGMENT/SPAN arrays
    *    — 1/16th of the token volume by the 16-token tiling, or
    *    span-count-bounded; the construction itself, not a per-token
    *    inner loop (which is what the drift fix removed).
    *  - CollectList/CollectSet: per-doc bounded index buffers
    *    (TypedImperativeAggregate — interpreted by design).
    *  - Percentile: q_stats IS the exact-percentile operator; Spark's
    *    own implementation is an interpreted aggregate. */
  private val fallbackAllowlist: Set[(String, String)] = {
    val hofKids = Seq("LambdaFunction", "NamedLambdaVariable")
    (Seq("pipeline_ingest", "pipeline_ingest_incr")
        .flatMap(q => ("ArrayTransform" +: "CollectList" +: hofKids)
          .map(q -> _)) ++
      Seq("dedup_span_maximal", "dedup_span_stats",
          "dedup_substrings_hashed")
        .flatMap(q => ("ArrayTransform" +: hofKids).map(q -> _)) ++
      Seq("dedup_span_excise")
        .flatMap(q => (Seq("ArrayTransform", "ArrayFilter",
          "CollectSet") ++ hofKids).map(q -> _)) ++
      Seq("q_stats" -> "Percentile")).toSet
  }

  test("no unlisted CodegenFallback expression in the hot paths of " +
      "the bench-slowest queries") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val offenders = hotQueries.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, Sf0001)
        .queryExecution.sparkPlan
      val nodes = plan.collect { case p => p } ++
        plan.subqueries.flatMap(_.collect { case p => p })
      nodes.flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback
            if !fallbackAllowlist((name, e.getClass.getSimpleName)) =>
          s"$name: ${e.getClass.getSimpleName}"
      }))
    }.distinct
    assert(offenders.isEmpty,
      s"interpreted expressions in hot paths:\n${offenders.mkString("\n")}")
  }

  test("no query plans a cartesian product or an unlisted global window") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, Sf0001).queryExecution.sparkPlan
        val carts = plan.collect { case c: CartesianProductExec => c }
        val globalWins = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }
        val bad = Seq(
          if (carts.nonEmpty) Some(s"$name: CartesianProduct") else None,
          if (globalWins.nonEmpty && !tinyGlobalWindowOk(name))
            Some(s"$name: global Window (no partition keys)")
          else None).flatten
        bad
    }
    assert(offenders.isEmpty,
      s"structural anti-patterns found:\n${offenders.mkString("\n")}")
  }

  /** The optimized plan of `df`'s analyzed plan, with
    * [[graft.plans.DecimalSums]] and with it excluded. */
  private def optimizedBothWays(df: DataFrame): (LogicalPlan, LogicalPlan) = {
    val analyzed = df.queryExecution.analyzed
    def optimized = DatasetBridge.ofRows(spark, analyzed)
      .queryExecution.optimizedPlan
    (optimized, withConf("spark.sql.optimizer.excludedRules" ->
      DecimalSums.ruleName)(optimized))
  }

  test("a session built from Tables.sessionConf runs DecimalSums") {
    assert(Tables.sessionConf("spark.sql.extensions") ==
      classOf[graft.plans.GraftExtensions].getName)
    val optimizer = spark.asInstanceOf[classic.SparkSession]
      .sessionState.optimizer
    assert(optimizer.extendedOperatorOptimizationRules.contains(DecimalSums),
      "without the extension every dsum silently falls back to " +
        "Spark's BigDecimal sum")
  }

  test("no Sum over a decimal(p <= 18) input is left in the tpch " +
      "workload's aggregates") {
    for (name <- Seq("q1_agg", "q_tpch3", "q_tpch5", "q_tpch6")) {
      val (withRule, without) =
        optimizedBothWays(SparkEntry.queries(name)(spark, Sf0001))
      assert(decimalSums(without).nonEmpty, s"$name sums no decimal")
      assert(decimalSums(withRule).isEmpty, s"$name:\n$withRule")
    }
  }

  test("the pipelines workload plans the same with and without " +
      "DecimalSums") {
    for (name <- Seq("dedup_setsim_exact", "dedup_minhash",
        "pipeline_ingest_stream")) {
      val (withRule, without) =
        optimizedBothWays(SparkEntry.queries(name)(spark, Sf0001))
      assert(withRule.canonicalized == without.canonicalized,
        s"$name:\n$withRule\n---\n$without")
    }
  }
}
