package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** Joins beyond the reference (SURVEY §2.3). */
object JoinQueries {

  val all: Seq[Query] = Seq(
    // Multi-way star join with broadcast dims: revenue per nation in one
    // region. region/nation are O(10) rows at any SF → broadcast;
    // lineitem⋈orders⋈customer are co-keyed shuffle joins AQE handles.
    Query("q_join_agg", (s, d) => {
      val li = t(s, d, "lineitem")
      val o  = t(s, d, "orders")
      val c  = t(s, d, "customer")
      val n  = t(s, d, "nation")
      val r  = t(s, d, "region").filter(col("r_name") === "EUROPE")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
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
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // Broadcast-hash join + aggregate over the fact table.
    Query("q_join_broadcast", (s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("c_mktsegment"))
    }, Sql(
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Co-located join over BUCKETED tables: both sides bucketed on the
    // join key (8 buckets, sorted), so the sort-merge join consumes the
    // bucket layout directly — ZERO hash Exchanges in the plan (the
    // only exchange is the final presentation ORDER BY); the per-key
    // aggregation also rides the bucket partitioning. This is the
    // 100-TB fact-to-fact join shape: pay the shuffle once at write
    // time, never again per query. Plan shape is test-gated
    // (StorageAndSkewSpec).
    Query("q_bucketed_join", (s, d) => {
      val c = s.table(ops.StorageOps.bucketedTable(s, d, "customer",
        "c_custkey"))
      val o = s.table(ops.StorageOps.bucketedTable(s, d, "orders",
        "o_custkey"))
      c.join(o.hint("merge"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("c_custkey"))
    },
      // Bucketing changes the physical layout, never the result: the
      // oracle is the plain co-keyed join over the original parquet.
      Sql(
      s"""SELECT c_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // Left-semi join (EXISTS).
    Query("q_semi_join", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin)),

    // Left-anti join (NOT EXISTS): customers with no high-value order.
    Query("q_anti_join", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin)),

    // TPC-H Q9-flavor: part+supplier+nation star over lineitem —
    // exercises every dimension table. part/supplier filter-pruned
    // before the fact join; nation broadcast.
    Query("q_part_join", (s, d) => {
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part").filter(col("p_type") === "PROMO")
      val sup = t(s, d, "supplier")
      val n = t(s, d, "nation")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy(col("n_name"), col("p_brand"))
    }, Sql(
      s"""SELECT n_name, p_brand, count(*) AS n,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM lineitem
         |JOIN part     ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |WHERE p_type = 'PROMO'
         |GROUP BY n_name, p_brand ORDER BY n_name, p_brand""".stripMargin)),

    // Gap sessionization (batch path of the streaming operator) under
    // the oracle gate: same lag/cumulative-sum construction in both
    // engines. ts compared at microsecond precision on both sides.
    Query("q_sessionize", (s, d) => {
      // keyed fan-out: the per-user lag/session compute otherwise runs
      // on the 1-2 AQE-coalesced post-shuffle partitions a 2 MB events
      // table produces (see StorageOps.fanOutForKey — plan untouched
      // at scale, same rows move once either way)
      val ev = ops.StorageOps.fanOutForKey(
        streaming.EventStreams.canonicalEvents(t(s, d, "events"))
          .select(col("user_id"), col("ts"), col("value")),
        col("user_id"))
      streaming.EventStreams.sessionizeBatch(ev)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          dsum(col("total_value")).as("total_value"))
        .orderBy(col("user_id"))
    },
      // Mirrors EventStreams.sessionizeBatch: lag → gap>30min marks a new
      // session → cumulative sum numbers sessions → two-level aggregate.
      // ts cast to microsecond timestamp to match Spark's precision.
      Sql(
      """WITH e AS (SELECT user_id, cast(ts as timestamp) AS ts, value
        |           FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts)
        |               OVER (PARTITION BY user_id ORDER BY ts))
        |               > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        |      FROM m),
        |g AS (SELECT user_id, sidx, count(*) AS n_ev,
        |        cast(sum(cast(value as decimal(18,2))) as double) AS tv
        |      FROM s GROUP BY user_id, sidx)
        |SELECT user_id, count(*) AS n_sessions,
        |  cast(sum(n_ev) as bigint) AS n_events,
        |  cast(sum(cast(tv as decimal(18,2))) as double) AS total_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Native session_window sessionization (Spark's built-in gap
    // windows, usable batch AND streaming) — same 30-minute gap as
    // q_sessionize; the oracle rebuilds sessions via lag/cumsum with
    // the session_window boundary rule (a gap of EXACTLY the window
    // size starts a new session; end = last event + gap).
    Query("q_session_window", (s, d) => {
      // keyed fan-out — see q_sessionize
      val ev = ops.StorageOps.fanOutForKey(
        streaming.EventStreams.canonicalEvents(t(s, d, "events"))
          .select(col("user_id"), col("ts"), col("value")),
        col("user_id"))
      ev.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"),
          col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // session_window boundary rule: gap >= 30min starts a NEW session
      // (q_sessionize's hand-rolled variant uses strictly-greater; the
      // native operator opens a new session at exact-gap boundaries);
      // session_end = last event + gap.
      Sql(
      """WITH e AS (SELECT user_id, cast(ts as timestamp) AS ts, value
        |           FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts)
        |               OVER (PARTITION BY user_id ORDER BY ts))
        |               >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        |      FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total_value
        |FROM s GROUP BY user_id, sidx
        |ORDER BY user_id, session_start""".stripMargin)),

    // CDC-style upsert/merge (StorageOps.upsert): doubled-price
    // updates overwrite their base rows by key, shifted-key rows
    // append, untouched base rows persist — verified row-exactly by
    // the full-outer-coalesce oracle.
    Query("q_upsert", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val base = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val updates = o.filter(pmod(col("o_orderkey"), lit(3)) === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .union(o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      ops.StorageOps.upsert(base, updates, "o_orderkey")
        .orderBy(col("o_orderkey"))
    }, Sql(
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        |b AS (SELECT * FROM o WHERE o_orderkey % 3 <> 0),
        |u AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
        |      FROM o WHERE o_orderkey % 3 = 1
        |      UNION ALL
        |      SELECT o_orderkey + 10000000, o_totalprice
        |      FROM o WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice
        |FROM b FULL OUTER JOIN u ON b.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin))
  )
}
