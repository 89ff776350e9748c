package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** Joins beyond built-ins. */
object CustomJoinQueries {

  private lazy val qAsofJoinSql: String =
    """WITH ord AS (SELECT o_custkey, o_orderdate,
      |               max(o_orderkey) AS o_orderkey
      |             FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, coalesce(o.o_orderkey, -1) AS last_orderkey
      |FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  val all: Seq[Query] = Seq(
    // As-of join (composed: union + carry-forward window, one shuffle —
    // see graft.ops.JoinOps.asofJoin): each event gets the customer's
    // most recent order at event time. Right side pre-deduped on
    // (key, time) for determinism.
    Query("q_asof_join", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ts"))
      val ord = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      ops.JoinOps.asofJoin(ev, ord, "user_id", "o_custkey",
        "ts", "o_orderdate", Seq("o_orderkey"))
        .select(col("event_id"),
          coalesce(col("asof_o_orderkey"), lit(-1L)).as("last_orderkey"))
        .orderBy(col("event_id"))
    }, Sql(qAsofJoinSql)),

    // The SAME as-of join through the custom planner path (logical
    // AsofJoinPlan → AsofJoinStrategy → sorted-merge AsofJoinExec,
    // registered via SparkSessionExtensions): one Exchange + Sort per
    // side, one forward-only merge pass per partition. Byte-identical
    // to q_asof_join — shares its DuckDB ASOF JOIN oracle.
    Query("q_asof_join_native", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ts"))
      val ord = t(s, d, "orders")
        .groupBy(col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_ts"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      plans.AsofJoin.asofJoin(s, ev, ord, "user_id", "o_custkey",
        "ts", "o_ts", Seq("o_orderkey"))
        .select(col("event_id"),
          coalesce(col("asof_o_orderkey"), lit(-1L)).as("last_orderkey"))
        .orderBy(col("event_id"))
    }, Sql(qAsofJoinSql)),

    // Range join: lineitems shipped within 60 days of their order date.
    Query("q_range_join", (s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      s"""SELECT o_orderpriority, count(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders
         |  ON l_orderkey = o_orderkey
         | AND l_shipdate >= o_orderdate
         | AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Fuzzy self-join on part names (entity resolution): the join runs
    // on the DISTINCT value domain with multiplicities — resolving
    // entities over distinct strings instead of rows is what keeps a
    // fuzzy join alive when a 100-TB table holds low-cardinality
    // templated values (row-level blocking here was measured quadratic:
    // 25s at sf0.1 vs 0.4s for this shape, identical row-pair counts).
    // Row-pair histogram per edit distance: cross-name pairs weight
    // cnt(a)*cnt(b); same-name pairs contribute C(cnt,2) at distance 0.
    Query("q_fuzzy_join", (s, d) => {
      val names = t(s, d, "part")
        .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      val a = names.select(col("p_name").as("an"), col("cnt").as("ca"))
      val b = names.select(col("p_name").as("bn"), col("cnt").as("cb"))
      val cross = ops.JoinOps.fuzzyJoin(a, b, "an", "bn", maxDist = 3)
        .filter(col("an") < col("bn"))
        .select(col("dist"), (col("ca") * col("cb")).as("np"))
      val same = names.select(lit(0).as("dist"),
        (col("cnt") * (col("cnt") - 1) / 2).cast("bigint").as("np"))
      cross.union(same)
        .groupBy(col("dist")).agg(sum(col("np")).as("n_pairs"))
        .orderBy(col("dist"))
    }, Sql(
      """WITH n AS (SELECT p_name, count(*) AS cnt FROM part
        |           GROUP BY p_name),
        |cp AS (SELECT levenshtein(a.p_name, b.p_name) AS dist,
        |         a.cnt * b.cnt AS np
        |       FROM n a JOIN n b
        |         ON substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4)
        |        AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |        AND levenshtein(a.p_name, b.p_name) <= 3
        |        AND a.p_name < b.p_name),
        |sp AS (SELECT 0 AS dist, (cnt * (cnt - 1)) // 2 AS np FROM n)
        |SELECT cast(dist as integer) AS dist,
        |  cast(sum(np) as bigint) AS n_pairs
        |FROM (SELECT * FROM cp UNION ALL SELECT * FROM sp)
        |GROUP BY dist ORDER BY dist""".stripMargin)),

    // Left-outer join with null handling.
    Query("q_outer_join", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("big_orderkey"))
        .orderBy(col("c_custkey"), col("big_orderkey"))
    }, Sql(
      """SELECT c_custkey, coalesce(o_orderkey, -1) AS big_orderkey
        |FROM customer c LEFT JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey, big_orderkey""".stripMargin)),

    // Full-outer join: every customer and every high-value order, with
    // -1 sentinels where the other side is absent.
    Query("q_full_outer", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_acctbal") > 9000.0)
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), lit(-1L)).as("cust"),
          coalesce(col("o_orderkey"), lit(-1L)).as("ord"))
        .orderBy(col("cust"), col("ord"))
    }, Sql(
      """SELECT coalesce(c_custkey, -1) AS cust,
        |  coalesce(o_orderkey, -1) AS ord
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9000.0) c
        |FULL OUTER JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY cust, ord""".stripMargin)),

    // Explicit reduce-side salting (SkewOps.saltedAgg): the hot-key
    // mitigation a 100-TB aggregation needs when one key exceeds a
    // reducer. Salting must not change results — the oracle is the
    // PLAIN group-by, so the equality is hash-checked per round.
    Query("q_salted_agg", (s, d) => {
      ops.SkewOps.saltedAgg(t(s, d, "lineitem"), "l_suppkey",
        saltFrom = col("l_orderkey") * 10 + col("l_linenumber"), salts = 8,
        aggs = Seq(
          (count(lit(1)).as("pn"), sum(col("pn")).as("n")),
          (sum(col("l_quantity").cast(DecimalType(18, 2))).as("pq"),
            sum(col("pq")).cast("double").as("sum_qty"))))
        .orderBy(col("l_suppkey"))
    },
      // Salting is a physical-layout trick only: the oracle is the plain
      // group-by.
      Sql(
      s"""SELECT l_suppkey, count(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // Salted fact⋈dim equi-join (SkewOps.saltedJoin): event_type has
    // only 5 values, each ~20% of the fact — at cluster scale a plain
    // shuffle join lands the whole table on 5 reducers. Salting splits
    // every hot key `salts` ways (dim rows replicate — dims are small
    // by definition, facts are not). The oracle is the PLAIN join:
    // hash-matching it proves the salted plan is row-identical.
    Query("q_skew_join", (s, d) => {
      val ev = t(s, d, "events")
      val dim = ev.select(col("event_type").as("et")).distinct()
        .withColumn("type_weight", length(col("et")).cast("double"))
      // shuffle_hash hint: the testdata dim would otherwise broadcast
      // (making the salt vacuous locally); the scenario being modeled
      // is a dim big enough to shuffle
      ops.SkewOps.saltedJoin(ev, dim.hint("shuffle_hash"), "event_type",
        "et", saltFrom = col("event_id"), salts = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value") * col("type_weight")).as("weighted_value"))
        .orderBy(col("event_type"))
    },
      // the PLAIN join — hash-matching it proves the salted plan is
      // row-identical to unsalted semantics
      Sql(
      s"""WITH dim AS (
         |  SELECT DISTINCT event_type AS et,
         |    cast(length(event_type) as double) AS type_weight
         |  FROM events)
         |SELECT event_type, count(*) AS n,
         |  ${dsumSql("value * type_weight")} AS weighted_value
         |FROM events JOIN dim ON event_type = et
         |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // CUBE grouping sets.
    Query("q_cube", (s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
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
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin)),

    // Math scalar functions (sqrt/pow/ln/abs) under exact aggregation.
    Query("q_math_funcs", (s, d) => {
      tk(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          dsum(round(sqrt(col("l_quantity")), 6), 6).as("sum_sqrt"),
          dsum(round(pow(lit(1.0) + col("l_discount"), 2), 6), 6)
            .as("sum_pow"),
          max(round(log(col("l_extendedprice")), 6)).as("max_ln"),
          min(abs(col("l_discount") - 0.05)).as("min_absdev"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  cast(sum(cast(round(sqrt(l_quantity), 6) as decimal(18,6)))
        |    as double) AS sum_sqrt,
        |  cast(sum(cast(round(pow(1.0 + l_discount, 2), 6)
        |    as decimal(18,6))) as double) AS sum_pow,
        |  max(round(ln(l_extendedprice), 6)) AS max_ln,
        |  min(abs(l_discount - 0.05)) AS min_absdev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Datetime scalar functions (quarter / ISO weekday / datediff).
    Query("q_datetime_funcs", (s, d) => {
      t(s, d, "orders")
        .groupBy(quarter(col("o_orderdate")).as("qtr"),
          (weekday(col("o_orderdate")) + 1).as("dow"))
        .agg(count(lit(1)).as("n"),
          min(datediff(col("o_orderdate"),
            lit("1995-01-01").cast("date"))).as("min_dd"))
        .orderBy(col("qtr"), col("dow"))
    }, Sql(
      """SELECT cast(quarter(o_orderdate) as integer) AS qtr,
        |  cast(isodow(o_orderdate) as integer) AS dow,
        |  count(*) AS n,
        |  cast(min(datediff('day', DATE '1995-01-01', o_orderdate))
        |    as integer) AS min_dd
        |FROM orders GROUP BY qtr, dow ORDER BY qtr, dow""".stripMargin)),

    // Statistical aggregates: exact interpolated percentiles, sample
    // stddev, correlation.
    Query("q_stats", (s, d) => {
      // the exact-Percentile partial aggregate is interpreted and
      // CPU-bound per row; a single-row-group input file would run it
      // on ONE task — size-gated fan-out parallelizes the partials
      // (count-map merges are order-independent; rounding absorbs the
      // stddev/corr partial-merge ulps exactly as it does across
      // shuffle fetch order today)
      ops.StorageOps.fanOutForKernel(t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("c"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Catalog statistics collection (ANALYZE TABLE in query form): per
    // column, row/null/exact-distinct counts plus typed min/max — the
    // stats a cost-based optimizer feeds on. Long format, one
    // column-pruned scan per column (each scan reads ONE parquet
    // column; at 100 TB the one-pass alternative replaces exact NDV
    // with the HLL sketches q_hll_distinct already exercises).
    // Numeric min/max emit as rounded doubles, string/timestamp as
    // explicitly-formatted strings — no engine-dependent double
    // formatting in the hash.
    Query("q_table_stats", (s, d) => {
      val li = t(s, d, "lineitem")
      def num(c: String) = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        round(min(col(c)).cast("double"), 4).as("min_num"),
        round(max(col(c)).cast("double"), 4).as("max_num"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
      def str(c: String, fmt: Column => Column) = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(fmt(col(c))).as("min_str"),
        max(fmt(col(c))).as("max_str"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col("min_str"), col("max_str"))
      num("l_orderkey")
        .unionAll(num("l_quantity"))
        .unionAll(num("l_extendedprice"))
        .unionAll(str("l_returnflag", identity))
        .unionAll(str("l_shipdate",
          c => date_format(c, "yyyy-MM-dd HH:mm:ss")))
        .orderBy(col("column_name"))
    }, Sql {
      def num(c: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  cast(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) as bigint)
           |    AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(cast(min($c) as double), 4) AS min_num,
           |  round(cast(max($c) as double), 4) AS max_num,
           |  cast(NULL as varchar) AS min_str,
           |  cast(NULL as varchar) AS max_str
           |FROM lineitem""".stripMargin
      def str(c: String, mn: String, mx: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  cast(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) as bigint)
           |    AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  cast(NULL as double) AS min_num,
           |  cast(NULL as double) AS max_num,
           |  $mn AS min_str, $mx AS max_str
           |FROM lineitem""".stripMargin
      Seq(num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
        str("l_returnflag", "min(l_returnflag)", "max(l_returnflag)"),
        str("l_shipdate",
          "strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }),

    // Per-language length deciles (ntile) with per-bucket stats — the
    // quality-stratification pass ahead of mixture sampling. The
    // window partitions by language, so the sort is per-group and
    // shuffles once on lang; a GLOBAL decile at 100 TB would instead
    // use approx_percentile boundaries + range bucketing (the
    // approx path is exercised by q_approx_agg). Ties are broken by
    // doc_id so bucket assignment is deterministic.
    Query("q_quantile_bucket", (s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, d, "documents")
        .withColumn("bucket", ntile(10).over(w))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("bucket"))
    }, Sql(
      """SELECT lang, bucket, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT lang, n_chars, doc_id,
        |        ntile(10) OVER (PARTITION BY lang
        |          ORDER BY n_chars, doc_id) AS bucket
        |      FROM documents)
        |GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)),

    // GLOBAL decile bucketing, the 100-TB way: a global ntile would
    // sort the whole corpus into one ordered sequence (a single-
    // reducer bottleneck); instead, the EXACT decile boundaries come
    // from QuantileOps.exactQuantiles (sketch-bracketed two-pass — no
    // global sort, see q_quantile_exact), and bucket assignment is an
    // embarrassingly-parallel range comparison against the broadcast
    // 9-value array. Boundaries being exact quantile_cont values makes
    // this FULLY oracle-checkable (DuckDB mirrors the same continuous
    // quantiles); Round6Spec still gates "no global-window" on the
    // plan and equivalence vs the exact global ntile at sf0.001.
    Query("q_quantile_global", (s, d) => {
      val docs = t(s, d, "documents")
      val bounds = ops.QuantileOps
        .exactQuantiles(docs, "n_chars", (1 to 9).map(_ / 10.0))
        .agg(sort_array(collect_list(col("value"))).as("bs"))
      docs.join(broadcast(bounds))
        .withColumn("bucket",
          (size(filter(col("bs"), b => b < col("n_chars"))) + 1)
            .cast("bigint"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket"))
    },
      // same continuous-quantile convention as q_quantile_exact (the
      // Spark side computes boundaries with QuantileOps.exactQuantiles)
      Sql(
      """WITH bs AS (
        |  SELECT list_sort([
        |    round(quantile_cont(n_chars, 0.1), 4),
        |    round(quantile_cont(n_chars, 0.2), 4),
        |    round(quantile_cont(n_chars, 0.3), 4),
        |    round(quantile_cont(n_chars, 0.4), 4),
        |    round(quantile_cont(n_chars, 0.5), 4),
        |    round(quantile_cont(n_chars, 0.6), 4),
        |    round(quantile_cont(n_chars, 0.7), 4),
        |    round(quantile_cont(n_chars, 0.8), 4),
        |    round(quantile_cont(n_chars, 0.9), 4)]) AS bs
        |  FROM documents)
        |SELECT bucket, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT CAST(1 + len(list_filter(bs, x -> x < n_chars))
        |               AS BIGINT) AS bucket, n_chars
        |      FROM documents, bs)
        |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // EXACT global quantiles with NO global sort — the two-pass
    // sketch-bracketed selection in [[QuantileOps.exactQuantiles]]:
    // approx_percentile brackets each target rank, then one exact
    // partial+final agg counts below/inside the bracket and reads the
    // true rank-j values off cumulative counts. Deterministic and
    // interpolation-compatible with DuckDB quantile_cont → full hash
    // oracle, unlike the sketch-only q_quantile_global above.
    Query("q_quantile_exact", (s, d) =>
      ops.QuantileOps.exactQuantiles(t(s, d, "documents"), "n_chars",
        Seq(0.25, 0.5, 0.9, 0.99)),
      // Exact continuous quantiles: DuckDB quantile_cont shares the
      // pos = 1 + q(n-1) linear interpolation QuantileOps reproduces.
      Sql(
      """WITH v AS (SELECT quantile_cont(n_chars,
        |             [0.25, 0.5, 0.9, 0.99]) AS vs FROM documents)
        |SELECT qs.q, round(vs[qs.i], 4) AS value
        |FROM v, (VALUES (1, CAST(0.25 AS DOUBLE)),
        |                (2, CAST(0.5  AS DOUBLE)),
        |                (3, CAST(0.9  AS DOUBLE)),
        |                (4, CAST(0.99 AS DOUBLE))) AS qs(i, q)
        |ORDER BY q""".stripMargin)),

    // Correlated scalar subquery through the SQL path.
    Query("q_scalar_subquery", (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM orders_v o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders
          |FROM customer_v c ORDER BY c_custkey""".stripMargin)
    }, Sql(
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin)),

    // Pivot: one column per line status (expressed as filtered counts
    // so Spark and the oracle agree on output column names).
    Query("q_pivot", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("l_linestatus") === "F", 1)).as("n_f"),
          count(when(col("l_linestatus") === "O", 1)).as("n_o"),
          dsum(when(col("l_linestatus") === "F", col("l_quantity")))
            .as("qty_f"),
          dsum(when(col("l_linestatus") === "O", col("l_quantity")))
            .as("qty_o"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE l_linestatus = 'O') AS n_o,
        |  cast(sum(cast(l_quantity as decimal(18,2)))
        |    FILTER (WHERE l_linestatus = 'F') as double) AS qty_f,
        |  cast(sum(cast(l_quantity as decimal(18,2)))
        |    FILTER (WHERE l_linestatus = 'O') as double) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Explicit GROUPING SETS (finer than rollup/cube) via the SQL path.
    Query("q_grouping_sets", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  count(*) AS n,
          |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
    }, Sql(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
         |  coalesce(l_linestatus, 'ALL') AS ls,
         |  count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin)),

    // RANGE window frame over event-time: 30-day trailing spend per
    // customer — the frame is value-based (interval), not row-based.
    Query("q_window_range", (s, d) => {
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .withColumn("trailing_30d",
          expr("""cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
                 |  PARTITION BY o_custkey ORDER BY o_orderdate
                 |  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                 |  as double)""".stripMargin))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("trailing_30d"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |    as double) AS trailing_30d
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // SCD2 (slowly-changing-dimension type 2) build from an order
    // event log: per customer, collapse runs of equal priority, then
    // validity intervals [valid_from, valid_to) via lead; the open row
    // flags is_current. Both windows share one (custkey, date, key)
    // sort order, so ONE shuffle+sort feeds the whole build — the
    // standard CDC-to-dimension shape at warehouse scale.
    Query("q_scd2", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").filter(col("o_custkey") < 200)
        .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("o_orderpriority").as("value"),
          col("o_orderdate").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("value"))
    }, Sql(
      """WITH ch AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders WHERE o_custkey < 200)
        |SELECT o_custkey, o_orderpriority AS value,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
        |FROM ch WHERE prev IS NULL OR prev <> o_orderpriority
        |ORDER BY o_custkey, valid_from, value""".stripMargin)),

    // Explode / lateral unnest: corpus word frequencies (the flat-map
    // shape every tokenization pipeline starts with).
    Query("q_explode", (s, d) => {
      t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) >= 4)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(20)
    }, Sql(
      """SELECT w, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |      FROM documents)
        |WHERE length(w) >= 4
        |GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin)),

    // Analytic window battery: lead / lag / ntile / percent_rank /
    // cume_dist under one deterministic total order.
    Query("q_window_analytics", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").filter(col("o_custkey") < 50)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"),
          coalesce(lead(col("o_totalprice"), 1).over(w), lit(-1.0))
            .as("next_price"),
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1.0))
            .as("prev_price"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }, Sql(
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  coalesce(lead(o_totalprice, 1) OVER w, -1.0) AS next_price,
        |  coalesce(lag(o_totalprice, 1) OVER w, -1.0) AS prev_price,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // Array aggregation: per-order sorted line numbers, serialized to a
    // string so both engines hash identically.
    Query("q_array_agg", (s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") < 200)
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(array_sort(collect_list(col("l_linenumber"))), ",")
            .as("line_numbers"),
          count(lit(1)).as("n"))
        .orderBy(col("l_orderkey"))
    }, Sql(
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(l_linenumber)), ',')
        |    AS line_numbers,
        |  count(*) AS n
        |FROM lineitem WHERE l_orderkey < 200
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // NULL-semantics conformance battery: manufactured nulls flow
    // through count(*) vs count(col), null-skipping sums, IS NULL
    // filters, and null-safe equality (the reference's declared
    // Null==Null→true semantic, SURVEY §1.2 — here via Spark's <=> /
    // ANSI IS NOT DISTINCT FROM).
    Query("q_null_semantics", (s, d) => {
      val li = t(s, d, "lineitem").withColumn("qn",
        when(col("l_discount") === 0.0, lit(null))
          .otherwise(col("l_quantity")))
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("qn")).as("n_nonnull"),
          dsum(col("qn")).as("sum_nonnull"),
          count(when(col("qn").isNull, 1)).as("n_null"),
          count(when(col("qn") <=> lit(null), 1)).as("n_nullsafe"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      s"""WITH li AS (SELECT l_returnflag,
         |  CASE WHEN l_discount = 0.0 THEN NULL ELSE l_quantity END AS qn
         |  FROM lineitem)
         |SELECT l_returnflag,
         |  count(*) AS n_rows,
         |  count(qn) AS n_nonnull,
         |  ${dsumSql("qn")} AS sum_nonnull,
         |  count(*) FILTER (WHERE qn IS NULL) AS n_null,
         |  count(*) FILTER (WHERE qn IS NOT DISTINCT FROM NULL)
         |    AS n_nullsafe
         |FROM li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Higher-order (lambda) array functions — transform / filter /
    // aggregate over per-order quantity arrays, all codegen-friendly
    // built-ins (the functional core a columnar pipeline uses instead
    // of UDFs), mirrored exactly by DuckDB's list lambdas.
    Query("q_lambda_funcs", (s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") < 200)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(col("l_quantity").cast("int")))
          .as("qtys"))
        .select(col("l_orderkey"),
          expr("aggregate(qtys, 0L, (acc, x) -> acc + x)").as("sum_q"),
          array_join(transform(col("qtys"), x => x * 2), ",")
            .as("doubled"),
          size(filter(col("qtys"), x => x > 25)).cast("bigint")
            .as("n_big"))
        .orderBy(col("l_orderkey"))
    }, Sql(
      """WITH g AS (SELECT l_orderkey,
        |             list_sort(list(cast(l_quantity as integer))) AS qtys
        |           FROM lineitem WHERE l_orderkey < 200
        |           GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  cast(list_aggregate(qtys, 'sum') as bigint) AS sum_q,
        |  array_to_string(list_transform(qtys, x -> x * 2), ',')
        |    AS doubled,
        |  cast(len(list_filter(qtys, x -> x > 25)) as bigint) AS n_big
        |FROM g ORDER BY l_orderkey""".stripMargin)),

    // Exact distinct aggregation.
    Query("q_count_distinct", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Approximate aggregates — the 100-TB workhorses: HyperLogLog++
    // count-distinct (bounded memory vs exact's full hash table) and
    // quantile sketch percentiles (one pass, mergeable). Sketch
    // algorithms differ across engines, so no SQL oracle — accuracy is
    // gated against the exact answers in ApproxOpsSpec (rel. error
    // asserted), same pattern as the dedup recall gates.
    Query("q_approx_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("nd_part"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("nd_supp"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)")
            .as("p50_price"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)")
            .as("p99_price"))
        .orderBy(col("l_returnflag"))
    },
      RowsOnly(
        "HLL++ and approx_percentile sketches differ across " +
        "engines; accuracy against the exact answers is gated in " +
        "ApproxOpsSpec")),

    // Incremental distinct counting via MERGEABLE HLL sketches
    // (DataSketches, built into Spark 4): per-source token sketches
    // are the persisted artifact at scale — any source combination's
    // distinct count then comes from unioning kilobyte sketches, with
    // NO corpus re-read (the pre-aggregated metric-tile pattern).
    // Rows-only; the 5%-of-exact accuracy and the stored-sketch-union
    // == direct-sketch equivalence are Round6bSpec-gated.
    Query("q_hll_distinct", (s, d) => {
      val sk = t(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("term"))
        .groupBy(col("source"))
        .agg(hll_sketch_agg(col("term"), 12).as("sk"),
          count(lit(1)).as("n_tokens"))
      val total = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("est_distinct_all"))
      sk.select(col("source"), col("n_tokens"),
          hll_sketch_estimate(col("sk")).as("est_distinct"))
        .crossJoin(broadcast(total))
        .orderBy(col("source"))
    },
      RowsOnly(
        "DataSketches HLL estimates differ across engines; accuracy" +
        " and the stored-sketch union are gated in Round6bSpec")),

    // Deterministic stratified sample: per-stratum Bernoulli sampling
    // with a fixed seed (reproducible across runs/retries — a resume
    // at 100 TB must not change the sample). Fraction accuracy and
    // determinism are test-gated (ApproxOpsSpec).
    Query("q_sample", (s, d) => {
      t(s, d, "orders")
        .stat.sampleBy("o_orderpriority",
          Map("1-URGENT" -> 0.2, "2-HIGH" -> 0.1, "3-MEDIUM" -> 0.05),
          seed = 42L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_sampled"),
          dsum(col("o_totalprice")).as("sampled_total"))
        .orderBy(col("o_orderpriority"))
    },
      RowsOnly(
        "sampleBy draws from Spark's seeded Bernoulli sampler, " +
        "which no other engine replays; fraction and determinism " +
        "are gated in ApproxOpsSpec"))
  )
}
