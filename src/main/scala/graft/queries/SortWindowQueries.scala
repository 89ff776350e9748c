package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** Sorts, windows, set operations and grouping extensions. */
object SortWindowQueries {

  private lazy val qWindowTopkSql: String =
    """SELECT l_returnflag, rn, l_orderkey, l_linenumber, l_extendedprice
      |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |        row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
      |          AS rn
      |      FROM lineitem) sub
      |WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin

  val all: Seq[Query] = Seq(
    // Ranking window: top-3 line items per return flag.
    Query("q_window_topk", (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 3)
        .select(col("l_returnflag"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_returnflag"), col("rn"))
    }, Sql(qWindowTopkSql)),

    // The same per-group top-3, through the bounded TopK aggregator
    // instead of a window: map-side partial top-k means each partition
    // ships <= 3 rows per group to the merge, where the window path
    // shuffles EVERY row of the group for the sort — the scale choice
    // when groups are huge and k is small. (l_orderkey, l_linenumber)
    // packs into one long (linenumber < 10) so the aggregator's
    // (score, id) tie-break reproduces the window's ordering exactly;
    // byte-identical output, same oracle as q_window_topk.
    Query("q_topk_agg", (s, d) => {
      import s.implicits._
      val scored = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey") * 10 + col("l_linenumber"))
        .as[(String, Double, Long)]
      val topk = new functions.Aggregators.TopK(3)
      scored.groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(topk.toColumn.name("topk"))
        .toDF("l_returnflag", "topk")
        .select(col("l_returnflag"), posexplode(col("topk")))
        .select(col("l_returnflag"),
          (col("pos") + 1).cast("bigint").as("rn"),
          expr("col._2 div 10").as("l_orderkey"),
          pmod(col("col._2"), lit(10L)).cast("bigint").as("l_linenumber"),
          col("col._1").as("l_extendedprice"))
        .orderBy(col("l_returnflag"), col("rn"))
    }, Sql(qWindowTopkSql)),

    // Running-total analytic window (exact decimal accumulation).
    Query("q_window_running", (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .filter(col("l_suppkey") < 5)
        .withColumn("running_qty",
          sum(col("l_quantity").cast(DecimalType(18, 2))).over(w)
            .cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
    }, Sql(
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  cast(sum(cast(l_quantity as decimal(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
        |    AS running_qty
        |FROM lineitem WHERE l_suppkey < 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin)),

    // Value histogram (fixed-width buckets via portable integer
    // arithmetic) — the data-profiling pass a curation pipeline runs
    // before choosing filters; one partial+final aggregation.
    Query("q_histogram", (s, d) => {
      t(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("bigint")
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("bucket_total"))
        .orderBy(col("bucket"))
    }, Sql(
      s"""SELECT cast(floor(o_totalprice / 50000.0) as bigint) AS bucket,
         |  count(*) AS n, ${dsumSql("o_totalprice")} AS bucket_total
         |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // UNION ALL bag semantics (vs q_union's set semantics): duplicates
    // must survive; checked through an aggregate over the bag.
    Query("q_union_all", (s, d) => {
      val hi = t(s, d, "orders").filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey").as("k"))
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"))
      hi.union(urgent)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }, Sql(
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000.0
        |  UNION ALL
        |  SELECT o_custkey AS k FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |GROUP BY k ORDER BY k""".stripMargin)),

    // Set operations.
    Query("q_union", (s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy(col("nk"))
    }, Sql(
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin)),

    Query("q_intersect", (s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy(col("nk"))
    }, Sql(
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin)),

    Query("q_except", (s, d) => {
      t(s, d, "customer").select(col("c_custkey").as("k"))
        .except(t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("k")))
        .orderBy(col("k"))
    }, Sql(
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders
        |        WHERE o_totalprice > 400000.0
        |ORDER BY k""".stripMargin)),

    // DISTINCT.
    Query("q_distinct", (s, d) => {
      t(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }, Sql(
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // ROLLUP grouping sets (nulls coalesced to 'ALL' for a stable sort).
    Query("q_rollup", (s, d) => {
      tk(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))
    }, Sql(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
         |  coalesce(l_linestatus, 'ALL') AS ls,
         |  count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin)),

    // HAVING (post-aggregation filter).
    Query("q_having", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("n") >= 100)
        .orderBy(col("l_suppkey"))
    }, Sql(
      s"""SELECT l_suppkey, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 100
         |ORDER BY l_suppkey""".stripMargin)),

    // Date-part extraction + aggregation.
    Query("q_date_agg", (s, d) => {
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("yr"), col("mo"))
    }, Sql(
      s"""SELECT cast(year(o_orderdate) as integer) AS yr,
         |  cast(month(o_orderdate) as integer) AS mo,
         |  count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin)),

    // CASE WHEN + string functions in group keys.
    Query("q_case_expr", (s, d) => {
      t(s, d, "orders")
        .groupBy(
          when(substring(col("o_orderpriority"), 1, 1) === "1", "urgent")
            .when(substring(col("o_orderpriority"), 1, 1) === "2", "high")
            .otherwise("normal").as("prio_class"),
          upper(col("o_orderstatus")).as("status"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("prio_class"), col("status"))
    }, Sql(
      s"""SELECT CASE WHEN substr(o_orderpriority, 1, 1) = '1' THEN 'urgent'
         |            WHEN substr(o_orderpriority, 1, 1) = '2' THEN 'high'
         |            ELSE 'normal' END AS prio_class,
         |  upper(o_orderstatus) AS status,
         |  count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY prio_class, status
         |ORDER BY prio_class, status""".stripMargin)),

    // String functions + aggregation over documents.
    Query("q_string_agg", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(substring(col("text"), 1, 8)).as("min_prefix"))
        .orderBy(col("source"))
    }, Sql(
      """SELECT source, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS total_chars,
        |  min(substr(text, 1, 8)) AS min_prefix
        |FROM documents GROUP BY source ORDER BY source""".stripMargin))
  )
}
