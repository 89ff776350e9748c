package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** TPC-H-shaped flagship compositions.
  *
  * Every join/agg/window primitive is oracle-green individually; these
  * compose them into the classic multi-join decision-support shapes
  * over the star schema, the strongest end-to-end correctness statement
  * the testdata supports. Plans: dims broadcast, facts co-keyed shuffle
  * joins, partial+final aggs, global top-k via TakeOrderedAndProject
  * (no full sort). */
object TpchQueries {

  val all: Seq[Query] = Seq(
    // TPC-H Q3 shape: shipping-priority revenue — segment-filtered
    // customers x pre-cutoff orders x post-cutoff lineitems, group by
    // order, top-10 by revenue.
    Query("q_tpch3", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1995-06-01").cast("date"))
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1995-06-01").cast("date"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }, Sql(
      s"""SELECT l_orderkey,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
         |  o_orderdate, o_orderpriority
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < DATE '1995-06-01'
         |  AND l_shipdate > DATE '1995-06-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: local-supplier revenue per nation — six-table
    // star with the customer-nation == supplier-nation colocation
    // predicate and a one-year order window.
    Query("q_tpch5", (s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
          col("o_orderdate") < lit("1996-01-01").cast("date"))
      val c = t(s, d, "customer")
      val sup = t(s, d, "supplier")
      val n = t(s, d, "nation")
      val r = t(s, d, "region").filter(col("r_name") === "EUROPE")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, Sql(
      s"""SELECT n_name,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         |  AND o_orderdate >= DATE '1995-01-01'
         |  AND o_orderdate < DATE '1996-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer — half-year
    // order window, R-flagged lineitems, nation broadcast, top-20.
    Query("q_tpch10", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
          col("o_orderdate") < lit("1995-07-01").cast("date"))
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Sql(
      s"""SELECT c_custkey, c_name, n_name,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= DATE '1995-01-01'
         |  AND o_orderdate < DATE '1995-07-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin)),

    // TPC-H Q4 shape: order-priority checking — orders in a one-quarter
    // window with at least one LATE lineitem. The testdata has no
    // commit/receipt dates, so "late" = shipped >30 days after the
    // order date; the correlated EXISTS lowers to one LEFT SEMI join
    // (no row duplication, lineitem never leaves the join).
    Query("q_tpch4", (s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-07-01").cast("date") &&
          col("o_orderdate") < lit("1995-10-01").cast("date"))
      val li = t(s, d, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > date_add(o("o_orderdate"), 30), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-07-01'
        |  AND o_orderdate < DATE '1995-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q14 shape: promo revenue share over one ship month — a
    // broadcast join against the part dim collapsed to a single global
    // ratio. Both sums ride one partial+final aggregation; decimal
    // sums keep the ratio shuffle-order-exact.
    Query("q_tpch14", (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("date") &&
          col("l_shipdate") < lit("1995-10-01").cast("date"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)), 4) /
          dsum(rev, 4), 4).as("promo_revenue"))
    }, Sql(
      s"""SELECT round(100.0 *
         |  ${dsumSql("CASE WHEN p_type = 'PROMO' THEN " +
            "l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 4)} /
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)}, 4)
         |  AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= DATE '1995-09-01'
         |  AND l_shipdate < DATE '1995-10-01'""".stripMargin)),

    // TPC-H Q18 shape: large-volume customers — per-order quantity
    // aggregation, HAVING-style threshold BEFORE the joins (the filter
    // shrinks the fact side to ~1% ahead of the shuffle), then
    // orders x customer attribution and a global top-20.
    Query("q_tpch18", (s, d) => {
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      big.join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }, Sql(
      s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
         |  sum_qty
         |FROM (SELECT l_orderkey, ${dsumSql("l_quantity")} AS sum_qty
         |      FROM lineitem GROUP BY l_orderkey) b
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE sum_qty > 250.0
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),

    // TPC-H Q7 shape: volume shipping between two regions (the
    // testdata's nations are too thin at sf0.001 for a nation pair) —
    // a 7-table chain where both nation/region lookups broadcast and
    // the bidirectional pair predicate filters AFTER the dim joins;
    // year comes from the shipdate, grouped with the region pair.
    Query("q_tpch7", (s, d) => {
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      val supSide = t(s, d, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("r_name").as("supp_region"))
      val custSide = t(s, d, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("cust_region"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supSide), col("l_suppkey") === col("s_suppkey"))
        .join(custSide, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_region") === "EUROPE" &&
            col("cust_region") === "ASIA") ||
          (col("supp_region") === "ASIA" &&
            col("cust_region") === "EUROPE"))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("supp_region"), col("cust_region"), col("l_year"))
    }, Sql(
      s"""SELECT supp_region, cust_region, l_year,
         |  ${dsumSql("volume", 4)} AS revenue FROM (
         |  SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
         |    cast(extract(year from l_shipdate) as bigint) AS l_year,
         |    l_extendedprice * (1.0 - l_discount) AS volume
         |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         |  WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
         |      OR (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'))
         |    AND l_shipdate >= DATE '1995-01-01'
         |    AND l_shipdate < DATE '1997-01-01')
         |GROUP BY supp_region, cust_region, l_year
         |ORDER BY supp_region, cust_region, l_year""".stripMargin)),

    // TPC-H Q8 shape: national market share — the widest flagship
    // (8-table star). The inner select builds (year, volume, supplier
    // nation) once; the share is a conditional-over-total ratio of two
    // decimal-exact sums in ONE aggregation pass.
    Query("q_tpch8", (s, d) => {
      val n = t(s, d, "nation")
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val custAmerica = t(s, d, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")
            .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNation = t(s, d, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
              col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAmerica, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(round(
          dsum(when(col("nation") === "NATION_3", vol).otherwise(lit(0.0)), 4) /
            dsum(vol, 4), 4).as("mkt_share"))
        .orderBy(col("o_year"))
    }, Sql(
      s"""SELECT o_year, round(
         |  ${dsumSql("CASE WHEN nation = 'NATION_3' THEN volume " +
            "ELSE 0.0 END", 4)} / ${dsumSql("volume", 4)}, 4)
         |  AS mkt_share FROM (
         |  SELECT cast(extract(year from o_orderdate) as bigint) AS o_year,
         |    l_extendedprice * (1.0 - l_discount) AS volume,
         |    n2.n_name AS nation
         |  FROM part JOIN lineitem ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
         |    AND o_orderdate >= DATE '1995-01-01'
         |    AND o_orderdate < DATE '1997-01-01')
         |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q17 shape: small-quantity-order revenue — the correlated
    // per-part average subquery decorrelates into a per-part aggregate
    // joined back. The brand filter (broadcast, ~0.5% of parts) is
    // applied BEFORE the per-part aggregate: partkey determines brand,
    // so averaging over the brand-filtered lineitems equals the
    // correlated average while reading 200x fewer rows into it; the
    // tiny aggregate then broadcasts back onto the same filtered scan.
    Query("q_tpch17", (s, d) => {
      val p = broadcast(t(s, d, "part")
        .filter(col("p_brand") === "Brand#19").select(col("p_partkey")))
      val liB = t(s, d, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
      val halfAvg = liB.groupBy(col("l_partkey").as("pk"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
      liB.join(broadcast(halfAvg), col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("half_avg"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }, Sql(
      s"""SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#19'
         |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
         |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin)),

    // TPC-H Q19 shape: discounted revenue under an OR-of-ANDs
    // predicate — the disjunction stays one scan + one broadcast join
    // (no union of three subqueries); the part-side conjuncts prune
    // the broadcast build side.
    Query("q_tpch19", (s, d) => {
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part")
      def arm(brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity") >= qLo && col("l_quantity") <= qHi
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#19", 1, 15, 1, 30) ||
          arm("Brand#23", 10, 30, 10, 40) ||
          arm("Brand#11", 20, 50, 20, 50))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
    }, Sql(
      s"""SELECT ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)}
         |  AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity >= 1 AND l_quantity <= 30)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
         |       AND l_quantity >= 10 AND l_quantity <= 40)
         |   OR (p_brand = 'Brand#11' AND p_size BETWEEN 20 AND 50
         |       AND l_quantity >= 20 AND l_quantity <= 50)""".stripMargin)),

    // TPC-H Q13 shape: customer order-count distribution — LEFT join
    // with a non-key join predicate (priority filter belongs IN the
    // join condition, not a WHERE, or no-order customers vanish), then
    // two stacked aggregations. count(o_orderkey) counts matches only
    // (nulls skipped) — the left-join + count-column idiom.
    Query("q_tpch13", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      val perCust = c.join(o,
          c("c_custkey") === o("o_custkey") &&
            o("o_orderpriority") =!= "1-URGENT", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, Sql(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q22 shape: wealthy-but-idle customers — an uncorrelated
    // scalar subquery (global average, one broadcast scalar) AND a
    // NOT EXISTS that lowers to a LEFT ANTI join against the filtered
    // orders side. Grouped by segment (the testdata's c_name encodes
    // no country code).
    Query("q_tpch22", (s, d) => {
      val c = t(s, d, "customer")
      val recent = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
        .select(col("o_custkey"))
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("ab"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_mktsegment"))
    }, Sql(
      s"""SELECT c_mktsegment, count(*) AS numcust,
         |  ${dsumSql("c_acctbal")} AS totacctbal
         |FROM customer
         |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
         |                   WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= DATE '2000-01-01')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))
  )
}
