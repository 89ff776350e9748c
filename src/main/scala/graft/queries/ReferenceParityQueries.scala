package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** Reference parity (SURVEY §2.1-2.4): the reference engine's scan,
  * filter, projection, aggregate and limit shapes. */
object ReferenceParityQueries {

  val all: Seq[Query] = Seq(
    // Scan + Filter(=) + Projection — the reference's canonical shape
    // (reference src/execution/mod.rs:55-85).
    Query("q_filter_project", (s, d) => {
      t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin)),

    // HashAggregate with min/max/count/sum/avg — the reference's declared
    // aggregate surface done right (SURVEY §2.6 items 3,4,7,8).
    Query("q1_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            / count(lit(1)), 4).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_price,
         |  min(l_quantity) AS min_qty,
         |  max(l_quantity) AS max_qty,
         |  count(*) AS n_rows,
         |  round(cast(sum(cast(l_quantity as decimal(18,2))) as double)
         |        / count(*), 4) AS avg_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // CAST in aggregation context (SURVEY §2.6 item 5; reference
    // src/logical_plan/mod.rs:694-701 casts before aggregating).
    Query("q_cast_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          max(col("l_orderkey").cast("string")).as("max_key_str"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag, max(cast(l_orderkey as varchar)) AS max_key_str,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Working Limit (SURVEY §2.6 item 2) as deterministic top-k.
    Query("q_limit_topk", (s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(10)
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))
  )
}
