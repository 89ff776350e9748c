package graft

import graft.queries.{Query, RowsOnly}

/** Every declared query must run and return rows on sf0.001 — the same
  * smoke the driver applies, kept in-tree so a regression is caught at
  * `sbt test` time rather than at round scoring. */
class QueriesSmokeSpec extends SparkSpec {
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows at sf0.001") {
      assert(fn(spark, Sf0001).count() > 0, s"$name returned no rows")
    }
  }

  test("the registry declares each query once, with an oracle or a rows-only reason") {
    val names = Query.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, v) if v.size > 1 => n }
    assert(dups.isEmpty, s"query names declared more than once: $dups")
    val rowsOnly = Query.all.collect { case Query(n, _, RowsOnly(r)) => n -> r }
    assert(rowsOnly.map(_._1).toSet ==
      Set("q_approx_agg", "q_hll_distinct", "q_sample"), rowsOnly)
    assert(rowsOnly.forall(_._2.trim.nonEmpty), rowsOnly)
    assert(SparkEntry.oracleSql.keySet == names.toSet -- rowsOnly.map(_._1))
    assert(SparkEntry.queries.size == 275)
  }

  test("tpch flagship plans: pushed filters, broadcast dims, top-k without a full sort") {
    // the plan properties that make these queries survive 100x data:
    // selective predicates reach the parquet scan, global top-k plans
    // as TakeOrderedAndProject (K rows per partition, never a full
    // sort), and O(10)-row dims broadcast
    val p3 = SparkEntry.queries("q_tpch3")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(p3.contains("TakeOrderedAndProject"), p3)
    assert(p3.contains("PushedFilters") &&
      p3.contains("EqualTo(c_mktsegment,BUILDING)"), p3)
    assert(p3.contains("GreaterThan(l_shipdate"), p3)

    val p10 = SparkEntry.queries("q_tpch10")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(p10.contains("TakeOrderedAndProject"), p10)
    assert(p10.contains("EqualTo(l_returnflag,R)"), p10)

    val p5 = SparkEntry.queries("q_tpch5")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(p5.contains("BroadcastHashJoin") ||
      p5.contains("BroadcastExchange"), p5)
    assert(p5.contains("EqualTo(r_name,EUROPE)"), p5)
  }

  test("round-5 tpch plans: semi/anti lowering, pushed predicates, one-agg ratios") {
    def plan(q: String) =
      SparkEntry.queries(q)(spark, Sf0001).queryExecution.executedPlan.toString

    val p4 = plan("q_tpch4") // EXISTS must be ONE semi join, no dedup
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("HashAggregate(keys=[o_orderkey"), p4)

    val p6 = plan("q_tpch6") // every predicate reaches the scan
    // (toString truncates the PushedFilters list, so assert the head of
    // the pushed list + the full predicate set on the Filter node)
    assert(p6.contains("PushedFilters: [IsNotNull(l_shipdate)"), p6)
    assert(p6.contains(">= 0.05") && p6.contains("< 24.0"), p6)

    val p19 = plan("q_tpch19") // OR-of-ANDs: one scan of lineitem, one join
    assert("Scan parquet".r.findAllIn(p19).size == 2, p19) // lineitem + part
    assert(p19.contains("BroadcastHashJoin"), p19)

    val p22 = plan("q_tpch22") // NOT EXISTS lowers to anti join
    assert(p22.contains("LeftAnti"), p22)
    assert(p22.contains("GreaterThanOrEqual(o_orderdate"), p22)

    val p8 = plan("q_tpch8") // membership as semi join; ONE final agg pair
    assert(p8.contains("LeftSemi"), p8)
    assert(p8.contains("EqualTo(p_type,ECONOMY)"), p8)

    val p17 = plan("q_tpch17") // brand filter pushed on BOTH lineitem reads
    assert(p17.contains("EqualTo(p_brand,Brand#19)"), p17)

    val p13 = plan("q_tpch13") // left join keeps no-order customers
    assert(p13.contains("LeftOuter") || p13.contains("BuildRight, false"), p13)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
