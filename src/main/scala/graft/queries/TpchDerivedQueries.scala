package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.BpeOps

import Shared._

/** TPC-H shapes over DERIVED columns.
  *
  * partsupp, commit/receipt dates and ship modes are derived
  * deterministically from driver columns (see [[partsuppDF]]), with the
  * identical derivation in the oracle; this closes the seven
  * "testdata-blocked" shapes. */
object TpchDerivedQueries {

  // ---- derived TPC-H columns --------------------------------------
  // The driver testdata carries no partsupp table and no lineitem
  // commit/receipt dates or ship modes, which blocks 7 of the 22
  // TPC-H query shapes (judged "testdata-blocked" in round 5/6). The
  // columns are DERIVED here deterministically from columns the data
  // DOES carry — partsupp keyed by the (l_partkey, l_suppkey) pairs
  // OBSERVED in lineitem (so every lineitem row joins to exactly one
  // partsupp row: the TPC-H referential guarantee), dates/modes from
  // the Knuth hash of the line identity. The oracle computes the
  // IDENTICAL derivation (SQL mirrors kept adjacent, same discipline
  // as knuthHash/knuthHashSql), so every derived-family query is
  // still end-to-end hash-checked; no synthetic input files exist —
  // both engines read only the driver parquet. Values are integers
  // (whole-dollar supplycost, integer availqty, day offsets) so all
  // derived arithmetic is exact on both engines.

  /** Hash of the lineitem row identity (l_linenumber is 1..7, so *8
    * keeps (orderkey, linenumber) collision-free). */
  private def lineHash(salt: Long): Column =
    knuthHash(col("l_orderkey") * lit(8L) + col("l_linenumber") + lit(salt))

  private def lineHashSql(salt: Long): String =
    knuthHashSql(s"(l_orderkey * 8 + l_linenumber + $salt)")

  /** l_commitdate: shipdate ± 30 days; l_receiptdate: 1..30 days after
    * shipdate. Ship modes: the 7 TPC-H modes by hash. */
  private def lCommitDate: Column =
    date_add(to_date(col("l_shipdate")),
      (pmod(lineHash(11), lit(61)) - 30).cast("int"))

  private val lCommitDateSql =
    s"cast(l_shipdate as date) + cast(${lineHashSql(11)} % 61 - 30 as int)"

  private def lReceiptDate: Column =
    date_add(to_date(col("l_shipdate")),
      (pmod(lineHash(23), lit(30)) + 1).cast("int"))

  private val lReceiptDateSql =
    s"cast(l_shipdate as date) + cast(${lineHashSql(23)} % 30 + 1 as int)"

  private val shipModes =
    Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  private def lShipMode: Column =
    element_at(array(shipModes.map(lit): _*),
      (pmod(lineHash(37), lit(7)) + 1).cast("int"))

  private val lShipModeSql =
    s"(['AIR','FOB','MAIL','RAIL','REG AIR','SHIP','TRUCK'])" +
      s"[cast(${lineHashSql(37)} % 7 + 1 as int)]"

  /** Derived partsupp: one row per (partkey, suppkey) pair observed in
    * lineitem; integer availqty 1..9999 and whole-dollar supplycost
    * 100..999 from the pair hash (suppkey < 1000 keeps the pair key
    * collision-free). */
  private def partsuppDF(s: SparkSession, d: String): DataFrame = {
    val psk = col("ps_partkey") * lit(1000L) + col("ps_suppkey")
    t(s, d, "lineitem")
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_availqty",
        pmod(knuthHash(psk + lit(101L)), lit(9999)) + 1)
      .withColumn("ps_supplycost",
        pmod(knuthHash(psk + lit(211L)), lit(900)) + 100)
  }

  private val partsuppSql: String =
    s"""SELECT ps_partkey, ps_suppkey,
       |    cast(${knuthHashSql("(ps_partkey * 1000 + ps_suppkey + 101)")}
       |      % 9999 + 1 as bigint) AS ps_availqty,
       |    cast(${knuthHashSql("(ps_partkey * 1000 + ps_suppkey + 211)")}
       |      % 900 + 100 as bigint) AS ps_supplycost
       |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
       |                        l_suppkey AS ps_suppkey FROM lineitem)"""
      .stripMargin

  /** Data-card replay: per-source integer counts re-derived end to
    * end — trained-BPE token totals via [[packCtes]]'s merge replay
    * (−1 sentinel per doc), exact-dup membership via DuckDB's own
    * md5, contamination via [[deconOracleSql]]'s raw-gram rule, and
    * classifier passes via [[qcFeatureCtes]] + the embedded IRLS
    * coefficients. CTE namespaces are disjoint by construction
    * (packCtes: words/rec/fin/dw/seq/dtok/alld/offs/spans;
    * qcFeatureCtes: m/f). */
  private lazy val dataCardOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |$qcFeatureCtes,
       |srcd AS (SELECT doc_id, source, lang FROM documents),
       |tokc AS (
       |  SELECT s.source, sum(a.n_tok - 1) AS n_tokens
       |  FROM alld a JOIN srcd s USING (doc_id) GROUP BY s.source),
       |basec AS (
       |  SELECT source, count(*) AS n_docs,
       |    count(DISTINCT lang) AS n_langs
       |  FROM srcd GROUP BY source),
       |dh AS (SELECT doc_id, md5(text) AS h FROM documents),
       |dupset AS (SELECT h FROM dh GROUP BY h HAVING count(*) >= 2),
       |dupc AS (
       |  SELECT s.source, count(*) AS exact_dup_docs
       |  FROM dh JOIN dupset USING (h) JOIN srcd s USING (doc_id)
       |  GROUP BY s.source),
       |ldocs AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |cg AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
       |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
       |  FROM (SELECT * FROM ldocs WHERE doc_id % 50 <> 0) d,
       |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
       |         AS t(i)),
       |eg AS (
       |  SELECT DISTINCT
       |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
       |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
       |  FROM (SELECT * FROM ldocs WHERE doc_id % 50 = 0) d,
       |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
       |         AS t(i)),
       |ov AS (SELECT doc_id, count(*) AS n_overlap
       |       FROM cg JOIN eg USING (gram) GROUP BY doc_id),
       |contc AS (
       |  SELECT s.source, count(*) AS contaminated_docs
       |  FROM ov JOIN srcd s USING (doc_id)
       |  WHERE ov.n_overlap >= 2 GROUP BY s.source),
       |clf AS (
       |  SELECT doc_id,
       |    CASE WHEN round(1.0 / (1.0 + exp(-(
       |      f0*({{QC_B0}}) + f1*({{QC_B1}}) + f2*({{QC_B2}})
       |      + f3*({{QC_B3}}) + f4*({{QC_B4}}) + f5*({{QC_B5}})))), 6)
       |      >= 0.5 THEN 1 ELSE 0 END AS p
       |  FROM f),
       |clfc AS (
       |  SELECT s.source, sum(p) AS clf_pass_docs
       |  FROM clf JOIN srcd s USING (doc_id) GROUP BY s.source)
       |SELECT b.source, cast(b.n_docs AS BIGINT) AS n_docs,
       |  cast(t.n_tokens AS BIGINT) AS n_tokens,
       |  cast(b.n_langs AS BIGINT) AS n_langs,
       |  cast(coalesce(d.exact_dup_docs, 0) AS BIGINT) AS exact_dup_docs,
       |  cast(coalesce(c.contaminated_docs, 0) AS BIGINT)
       |    AS contaminated_docs,
       |  cast(coalesce(q.clf_pass_docs, 0) AS BIGINT) AS clf_pass_docs
       |FROM basec b
       |JOIN tokc t USING (source)
       |LEFT JOIN dupc d USING (source)
       |LEFT JOIN contc c USING (source)
       |LEFT JOIN clfc q USING (source)
       |ORDER BY b.source""".stripMargin

  /** pipeline_decontaminate oracle: the hashed-shingle overlap count
    * recomputed over raw 3-token gram STRINGS — equal iff the xxhash
    * kernel is collision-free on this corpus, so the hash match
    * certifies collision-freedom exactly as dedup_substrings_hashed's
    * does. Mirrors SketchKernels.windowHashes' short-doc fallback
    * (<= 3 tokens -> ONE whole-doc gram). */
  private def deconOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |cg AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
      |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
      |  FROM (SELECT * FROM docs WHERE doc_id % 50 <> 0) d,
      |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
      |         AS t(i)),
      |eg AS (
      |  SELECT DISTINCT
      |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
      |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
      |  FROM (SELECT * FROM docs WHERE doc_id % 50 = 0) d,
      |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
      |         AS t(i)),
      |ov AS (SELECT doc_id, count(*) AS n_overlap
      |       FROM cg JOIN eg USING (gram) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(o.n_overlap, 0) AS n_overlap,
      |       coalesce(o.n_overlap, 0) >= 2 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
      |LEFT JOIN ov o USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val all: Seq[Query] = Seq(
    // Q2 shape: min-cost supplier per part within a region — the
    // correlated-min scalar subquery, decorrelated here as a per-part
    // window min over the region-scoped candidates (one shuffle on
    // p_partkey; dims broadcast). Output sort key is unique, so the
    // LIMIT cut is deterministic.
    Query("q_tpch2", (s, d) => {
      val eur = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
      val cand = partsuppDF(s, d)
        .join(eur, col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "part")
          .filter(col("p_size") === 15 && col("p_type") === "STANDARD")),
          col("ps_partkey") === col("p_partkey"))
      val w = Window.partitionBy(col("p_partkey"))
      cand.withColumn("min_cost", min(col("ps_supplycost")).over(w))
        .filter(col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(20)
    },
      // dates / modes with the SAME hash arithmetic (see partsuppSql)
      Sql(
      s"""WITH ps AS ($partsuppSql)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
         |  ps_supplycost
         |FROM part, ps, supplier, nation, region
         |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         |  AND p_size = 15 AND p_type = 'STANDARD'
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'EUROPE'
         |  AND ps_supplycost = (
         |    SELECT min(ps2.ps_supplycost)
         |    FROM ps ps2, supplier s2, nation n2, region r2
         |    WHERE ps2.ps_partkey = p_partkey
         |      AND s2.s_suppkey = ps2.ps_suppkey
         |      AND s2.s_nationkey = n2.n_nationkey
         |      AND n2.n_regionkey = r2.r_regionkey
         |      AND r2.r_name = 'EUROPE')
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 20""".stripMargin)),

    // Q9 shape: product-type profit by supplier nation and year —
    // the partsupp cost lookup joins the fact on BOTH keys
    // (l_partkey, l_suppkey); profit routes through decimal.
    Query("q_tpch9", (s, d) => {
      val li = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")
          .filter(col("p_name").like("%red%")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(partsuppDF(s, d),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))),
          col("l_suppkey") === col("s_suppkey"))
      li.groupBy(col("n_name"),
          year(col("l_shipdate")).cast("bigint").as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          - col("ps_supplycost") * col("l_quantity"), 4).as("sum_profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }, Sql(
      s"""WITH ps AS ($partsuppSql)
         |SELECT n_name, cast(extract(year from l_shipdate) as bigint)
         |    AS o_year,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount) " +
            "- ps_supplycost * l_quantity", 4)} AS sum_profit
         |FROM lineitem, ps, part, supplier, nation
         |WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |  AND l_partkey = p_partkey AND l_suppkey = s_suppkey
         |  AND s_nationkey = n_nationkey AND p_name LIKE '%red%'
         |GROUP BY n_name, o_year
         |ORDER BY n_name, o_year DESC""".stripMargin)),

    // Q11 shape: important-stock concentration — per-part value within
    // one geography HAVING above a fraction of that geography's total
    // (the group-filter-by-global-scalar shape). Scoped by REGION, not
    // the spec's single nation: sf0.001 has ~1 supplier/nation, so a
    // one-nation cut is empty there; the region keeps the shape and is
    // non-empty at every SF. Values are exact integers (derived
    // whole-dollar cost × integer qty).
    Query("q_tpch11", (s, d) => {
      val natPs = partsuppDF(s, d)
        .join(broadcast(t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select(col("s_suppkey"))),
          col("ps_suppkey") === col("s_suppkey"))
        .withColumn("value", col("ps_supplycost") * col("ps_availqty"))
      // total is re-aggregated FROM the per-part aggregate (sum of
      // sums), not from a second natPs pass — the global-scalar branch
      // costs one reduce over the already-aggregated table, and the
      // derivation subtree appears once even without AQE stage reuse
      val partVals = natPs.groupBy(col("ps_partkey"))
        .agg(sum(col("value")).as("part_value"))
      val total = partVals.agg(sum(col("part_value")).as("tot"))
      partVals
        .crossJoin(broadcast(total))
        .filter(col("part_value") * 10000 > col("tot") * 15)
        .select(col("ps_partkey"), col("part_value"))
        .orderBy(col("part_value").desc, col("ps_partkey"))
    }, Sql(
      s"""WITH ps AS ($partsuppSql),
         |np AS (
         |  SELECT ps_partkey, ps_supplycost * ps_availqty AS value
         |  FROM ps, supplier, nation, region
         |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
         |SELECT ps_partkey, cast(sum(value) as bigint) AS part_value
         |FROM np GROUP BY ps_partkey
         |HAVING sum(value) * 10000 > (SELECT sum(value) FROM np) * 15
         |ORDER BY part_value DESC, ps_partkey""".stripMargin)),

    // Q12 shape: shipping-mode service levels — derived modes and
    // commit/receipt dates; counts split by order priority; one
    // partial+final aggregate after scan-side date predicates.
    Query("q_tpch12", (s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, d, "lineitem")
        .withColumn("l_shipmode", lShipMode)
        .withColumn("l_commitdate", lCommitDate)
        .withColumn("l_receiptdate", lReceiptDate)
        .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          to_date(col("l_shipdate")) < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1996-01-01").cast("date") &&
          col("l_receiptdate") < lit("1997-01-01").cast("date"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_shipmode"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_shipmode"))
    }, Sql(
      s"""WITH li AS (
         |  SELECT l_orderkey, $lShipModeSql AS l_shipmode,
         |    cast(l_shipdate as date) AS sd,
         |    $lCommitDateSql AS cd, $lReceiptDateSql AS rd
         |  FROM lineitem)
         |SELECT l_shipmode,
         |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) as bigint) AS high_line_count,
         |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 0 ELSE 1 END) as bigint) AS low_line_count
         |FROM li, orders
         |WHERE l_orderkey = o_orderkey
         |  AND l_shipmode IN ('MAIL', 'SHIP')
         |  AND cd < rd AND sd < cd
         |  AND rd >= DATE '1996-01-01' AND rd < DATE '1997-01-01'
         |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin)),

    // Q16 shape: supplier counts per part attribute — NOT IN
    // subquery (negative-balance suppliers stand in for the comment
    // filter the schema lacks) lowered to a left-anti join, then
    // count-distinct per (brand, type, size).
    Query("q_tpch16", (s, d) => {
      val excluded = t(s, d, "supplier")
        .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
      partsuppDF(s, d)
        .join(broadcast(t(s, d, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(5, 15, 25, 35, 45))),
          col("ps_partkey") === col("p_partkey"))
        .join(excluded, col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }, Sql(
      s"""WITH ps AS ($partsuppSql)
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps, part
         |WHERE p_partkey = ps_partkey
         |  AND p_brand <> 'Brand#1' AND p_size IN (5, 15, 25, 35, 45)
         |  AND ps_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""
        .stripMargin)),

    // Q20 shape: suppliers with excess stock — availqty above half the
    // year's shipped quantity for that (part, supplier); the quantity
    // sum routes through decimal so the 0.5× threshold is exact.
    Query("q_tpch20", (s, d) => {
      val shipped = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      val hotParts = t(s, d, "part")
        .filter(col("p_name").like("hot%")).select(col("p_partkey"))
      val qualifying = partsuppDF(s, d)
        .join(broadcast(hotParts), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("qty"))
        .select(col("ps_suppkey")).distinct()
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .join(qualifying, col("s_suppkey") === col("ps_suppkey"),
          "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }, Sql(
      s"""WITH ps AS ($partsuppSql)
         |SELECT s_name, s_acctbal
         |FROM supplier, nation, region
         |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'EUROPE'
         |  AND s_suppkey IN (
         |    SELECT ps_suppkey FROM ps
         |    WHERE ps_partkey IN (
         |        SELECT p_partkey FROM part WHERE p_name LIKE 'hot%')
         |      AND ps_availqty * 2 > (
         |        SELECT sum(cast(l_quantity as decimal(18,2)))
         |        FROM lineitem
         |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |          AND l_shipdate >= DATE '1996-01-01'
         |          AND l_shipdate < DATE '1997-01-01'))
         |ORDER BY s_name""".stripMargin)),

    // Q21 shape: suppliers who kept waiting — multi-supplier 'F'
    // orders where EXACTLY this supplier's lines missed commit.
    // Decorrelated: per-order distinct-supplier and distinct-late-
    // supplier counts (two aggregates co-keyed on l_orderkey) replace
    // the EXISTS / NOT EXISTS pair; numwait counts qualifying LINES,
    // mirroring the classic formulation (the oracle runs the
    // EXISTS/NOT EXISTS original — the hash match proves the
    // decorrelation equivalent).
    Query("q_tpch21", (s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("late", lReceiptDate > lCommitDate)
      // r14: the two countDistincts planned an Expand that doubled
      // every lineitem row through the aggregate exchange; the
      // two-stage form — collapse to (order, supplier) first, then
      // count per order — shuffles each row once, un-expanded, for
      // the same exact integer counts
      val perOrder = li
        .groupBy(col("l_orderkey").as("ok"), col("l_suppkey"))
        .agg(max(col("late")).as("any_late"))
        .groupBy(col("ok"))
        .agg(count(lit(1)).as("n_supps"),
          count(when(col("any_late"), 1)).as("n_late_supps"),
          min(when(col("any_late"), col("l_suppkey"))).as("late_supp"))
      li.filter(col("late"))
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(perOrder, col("l_orderkey") === col("ok"))
        .filter(col("n_supps") > 1 && col("n_late_supps") === 1)
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }, Sql(
      s"""WITH li AS (
         |  SELECT l_orderkey, l_suppkey,
         |    ($lReceiptDateSql > $lCommitDateSql) AS late
         |  FROM lineitem)
         |SELECT s_name, count(*) AS numwait
         |FROM li l1, orders, supplier
         |WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
         |  AND l1.l_suppkey = s_suppkey AND l1.late
         |  AND EXISTS (SELECT 1 FROM li l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM li l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.late)
         |GROUP BY s_name ORDER BY numwait DESC, s_name
         |LIMIT 20""".stripMargin)),

    // TPC-H Q6 shape: forecasting-revenue change — a pure
    // filter-and-aggregate with every predicate pushed to the scan;
    // the classic "can the engine skip most of the fact table" probe.
    Query("q_tpch6", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
          col("l_shipdate") < lit("1996-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4)
          .as("revenue"))
    }, Sql(
      s"""SELECT ${dsumSql("l_extendedprice * l_discount", 4)} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= DATE '1995-01-01'
         |  AND l_shipdate < DATE '1996-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q15 shape: top-revenue supplier — a quarterly per-supplier
    // revenue view joined back on its own scalar max (view-over-
    // aggregate + uncorrelated scalar subquery). The view's aggregation
    // shuffle is planned once and REUSED by the max branch
    // (ReusedExchange — plan-gated in Round6Spec), so the fact table
    // is scanned once; the max is a broadcast single-row join against
    // the |suppliers|-sized view, and only the winning row(s) join the
    // supplier dim. Ties on max revenue are all returned (spec
    // semantics), made deterministic by the decimal-exact revenue sum.
    Query("q_tpch15", (s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1996-04-01").cast("date") &&
          // explicit, though implied by the final join: keeps the max
          // branch's subtree CANONICALLY IDENTICAL to the join
          // branch's (which infers IsNotNull from its equi-join), so
          // AQE reuses one shuffle stage instead of scanning the fact
          // table twice
          col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("total_revenue"))
      val top = rev.join(
        broadcast(rev.agg(max(col("total_revenue")).as("mr"))),
        col("total_revenue") === col("mr"))
      t(s, d, "supplier")
        .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }, Sql(
      s"""WITH revenue AS (
         |  SELECT l_suppkey,
         |    ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)}
         |      AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1996-01-01'
         |    AND l_shipdate < DATE '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin)),

    // Eval-set decontamination sweep: every 50th doc plays the eval
    // set; each remaining corpus doc reports its distinct shared
    // 3-token shingles and a contamination flag. Rows-only (the
    // shingle-hash kernel has no ANSI mirror); exact equivalence vs a
    // raw-shingle intersection ground truth is spec-gated.
    Query("pipeline_decontaminate", (s, d) => {
      val all = t(s, d, "documents")
      val evalSet = all.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = all.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      ops.DedupOps.evalOverlap(corpus, evalSet, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(deconOracleSql)),

    // Cross-source n-gram overlap matrix — the pairwise
    // redundancy/contamination report between corpus sources
    // (ops.DedupOps.sourceOverlap): distinct-shingle intersection,
    // both containment directions, Jaccard; zero-overlap pairs kept.
    // Shingles travel as codegen'd 64-bit kernel hashes; the oracle
    // recounts the raw gram strings.
    Query("pipeline_source_overlap", (s, d) =>
      ops.DedupOps.sourceOverlap(t(s, d, "documents"), "source", "text")
        .orderBy(col("src_a"), col("src_b")),
      // Cross-source overlap: recounts the gram STRINGS (the decon
      // family's discipline — an FNV collision in the Spark kernel
      // surfaces as a mismatch). Short-doc semantics mirror the kernel:
      // a document under shingleN tokens contributes the single
      // whole-join gram.
      Sql(
      """WITH d AS (
        |  SELECT source, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source AS src,
        |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
        |         ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS gram
        |  FROM d, LATERAL unnest(
        |    generate_series(1, greatest(1, len(w) - 2))) t(i)),
        |s AS (SELECT src, count(*) AS n FROM g GROUP BY src),
        |p AS (SELECT a.src AS src_a, b.src AS src_b,
        |             a.n AS n_a, b.n AS n_b
        |      FROM s a, s b WHERE a.src < b.src),
        |i AS (SELECT ga.src AS src_a, gb.src AS src_b,
        |             count(*) AS n_common
        |      FROM g ga JOIN g gb
        |        ON ga.gram = gb.gram AND ga.src < gb.src
        |      GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |  coalesce(i.n_common, 0) AS n_common, p.n_a, p.n_b,
        |  round(cast(coalesce(i.n_common, 0) AS double) / p.n_a, 4)
        |    AS contain_a,
        |  round(cast(coalesce(i.n_common, 0) AS double) / p.n_b, 4)
        |    AS contain_b,
        |  round(cast(coalesce(i.n_common, 0) AS double)
        |    / (p.n_a + p.n_b - coalesce(i.n_common, 0)), 4) AS jaccard
        |FROM p LEFT JOIN i ON p.src_a = i.src_a AND p.src_b = i.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin)),

    // The per-source DATA CARD — the release report a corpus ships
    // with, composing five already-certified machineries into one
    // table: docs and trained-BPE token counts, language breadth,
    // exact-duplicate membership (md5, counted corpus-wide),
    // eval-contamination verdicts (the pipeline_decontaminate rule),
    // and trained-quality-classifier pass counts. Every column is an
    // integer count, so the composition stays hash-exact. Scale
    // shape: one corpus scan per component — md5 dup counting
    // shuffles 16-byte hashes, the gram join broadcasts the eval
    // side, the classifier scores map-side with broadcast
    // coefficients, and everything meets at a sources-sized join.
    Query("pipeline_data_card", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val base = docs.select(col("doc_id"), col("source"), col("lang"),
        size(BpeOps.encode(col("text"), bpe)).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      val perSrc = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      val dups = base.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"))
      val dupSrc = base.join(dups, Seq("h"), "leftsemi")
        .groupBy(col("source")).agg(count(lit(1)).as("exact_dup_docs"))
      val srcOf = docs.select(col("doc_id"), col("source"))
      val cont = ops.DedupOps.evalOverlap(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text")
        .filter(col("contaminated"))
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("contaminated_docs"))
      val feats = ops.QualityClassifierOps.featurize(docs, col("text"))
        .localCheckpoint()
      val beta = ops.QualityClassifierOps.cachedTrain(s,
        s"$d/documents.parquet", feats)
      val clfSrc = feats
        .withColumn("clf_pass",
          (round(ops.QualityClassifierOps.score(beta), 6) >= 0.5)
            .cast("long"))
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("source")).agg(sum(col("clf_pass")).as("clf_pass_docs"))
      perSrc
        .join(dupSrc, Seq("source"), "left")
        .join(cont, Seq("source"), "left")
        .join(clfSrc, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"),
          coalesce(col("exact_dup_docs"), lit(0L)).as("exact_dup_docs"),
          coalesce(col("contaminated_docs"), lit(0L))
            .as("contaminated_docs"),
          coalesce(col("clf_pass_docs"), lit(0L)).as("clf_pass_docs"))
        .orderBy(col("source"))
    }, Sql(dataCardOracleSql)),

    // Span-level decontamination: EXCISE the eval-overlapping 8-token
    // spans from each corpus document and keep the rest — the
    // surgical alternative to pipeline_decontaminate's whole-doc
    // verdicts (drop a leaked benchmark string, not the document).
    // Same split as the other decon queries (doc_id % 50 == 0 is the
    // eval release); the eval side broadcasts as distinct 64-bit gram
    // hashes, the corpus is read once, and the oracle recounts the
    // gram STRINGS so a hash collision can never silently excise the
    // wrong span. See DedupOps.evalSpanExcise.
    Query("pipeline_decon_excise", (s, d) => {
      val all = t(s, d, "documents")
      ops.DedupOps.evalSpanExcise(
        all.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        all.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", minLen = 8)
    },
      // the span-excision mirror with the covered set sourced from the
      // EVAL release's gram strings instead of a corpus self-count
      Sql(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 50 != 0),
        |ev AS (
        |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id % 50 = 0) e,
        |       LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN ev USING (gram),
        |       LATERAL unnest(generate_series(0, 7)) AS u(j)),
        |keep AS (
        |  SELECT toks.doc_id, w[i] AS tok, i
        |  FROM toks, LATERAL unnest(generate_series(1, len(w))) AS t(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |                    WHERE cov.doc_id = toks.doc_id
        |                      AND cov.idx = i - 1)),
        |clean AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ctext
        |  FROM keep GROUP BY doc_id),
        |ncov AS (
        |  SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT toks.doc_id, cast(len(w) as bigint) AS n_tokens,
        |  cast(coalesce(ncov.n_removed, 0) as bigint) AS n_removed,
        |  md5(coalesce(clean.ctext, '')) AS clean_md5
        |FROM toks
        |LEFT JOIN ncov ON toks.doc_id = ncov.doc_id
        |LEFT JOIN clean ON toks.doc_id = clean.doc_id
        |ORDER BY toks.doc_id""".stripMargin)),

    // Decontamination behind a BLOOM-GATED first stage: the eval set's
    // shingle hashes compress to a broadcast bloom filter, the corpus
    // gram stream is pruned map-side inside codegen (no false
    // negatives possible), and only the surviving sliver reaches the
    // exact join — the shape that scales to an eval set too large to
    // broadcast as a hash table. Byte-identical to
    // pipeline_decontaminate (spec-gated equality); rows-only here
    // (xxhash shingles are not DuckDB-reproducible, same as the exact
    // variant).
    Query("pipeline_decon_bloom", (s, d) => {
      val all = t(s, d, "documents")
      val evalSet = all.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = all.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      // the filter bytes are the persisted per-eval-release artifact:
      // built once, keyed by the eval source's content signature, and
      // probed by every later corpus batch without an eval re-read
      // (spec-gated byte-identity with the fresh build)
      val bytes = ops.DedupOps.cachedEvalBloom(s,
        s"$d/documents.parquet", "evalmod50",
        ops.DedupOps.evalShingleGrams(evalSet, "text"))
      ops.DedupOps.evalOverlapBloom(corpus, evalSet, "doc_id", "text",
        bloomBytes = Some(bytes))
        .orderBy(col("doc_id"))
    },
      // the bloom gate has no false negatives and its false positives
      // die in the exact join — output is IDENTICAL to the exact
      // variant (spec-gated), so the same oracle certifies both
      Sql(deconOracleSql)),

    // MULTI-SUITE decontamination in ONE corpus pass: real pipelines
    // screen against many eval suites at once (MMLU + GSM + HumanEval,
    // ...), and N separate evalOverlap sweeps would scan the corpus N
    // times. Here each suite's distinct shingle hashes fold into ONE
    // broadcast gram->bitmask table (bit i = gram appears in suite i),
    // the corpus gram stream joins it once, and the per-suite overlap
    // counts unpack from the mask inside the SAME aggregation — corpus
    // scans and shuffles are INDEPENDENT of the suite count (the mask
    // widens to 64 suites for free). Oracle: per-suite raw-gram
    // recounts (the deconOracleSql discipline — hash match also
    // certifies collision-freedom).
    Query("pipeline_decon_multi", (s, d) => {
      val all = t(s, d, "documents")
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(graft.functions.HashFunctions.shingleHashes(
          ops.DedupOps.tokens(col("text")), 3)).as("g"))
      val suiteGrams = (0 to 2).map { i =>
        grams(all.filter(pmod(col("doc_id"), lit(50)) === i))
          .select(col("g"), lit(1L << i).as("m"))
      }.reduce(_ union _)
      val masks = suiteGrams.groupBy(col("g"))
        .agg(expr("bit_or(m)").as("mask"))
      val corpus = all.filter(pmod(col("doc_id"), lit(50)) >= 3)
      val counts = grams(corpus).join(broadcast(masks), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("mask").bitwiseAND(lit(1L))).as("n_s0"),
          sum(shiftright(col("mask"), 1).bitwiseAND(lit(1L))).as("n_s1"),
          sum(shiftright(col("mask"), 2).bitwiseAND(lit(1L))).as("n_s2"))
      corpus.select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_s0"), lit(0L)).as("n_s0"),
          coalesce(col("n_s1"), lit(0L)).as("n_s1"),
          coalesce(col("n_s2"), lit(0L)).as("n_s2"))
        .withColumn("contaminated",
          greatest(col("n_s0"), col("n_s1"), col("n_s2")) >= 2)
        .orderBy(col("doc_id"))
    },
      // Per-suite raw-gram recounts (deconOracleSql discipline); the
      // bitmask single-pass structure is a Spark-side optimization the
      // oracle need not mirror — only the counts must match.
      Sql(
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
        |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
        |  FROM docs,
        |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
        |         AS t(i)),
        |c AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 >= 3),
        |e0 AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |e1 AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 1),
        |e2 AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 2),
        |o0 AS (SELECT doc_id, count(*) AS n FROM c JOIN e0 USING (gram)
        |       GROUP BY doc_id),
        |o1 AS (SELECT doc_id, count(*) AS n FROM c JOIN e1 USING (gram)
        |       GROUP BY doc_id),
        |o2 AS (SELECT doc_id, count(*) AS n FROM c JOIN e2 USING (gram)
        |       GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(o0.n, 0) AS n_s0,
        |  coalesce(o1.n, 0) AS n_s1,
        |  coalesce(o2.n, 0) AS n_s2,
        |  greatest(coalesce(o0.n, 0), coalesce(o1.n, 0),
        |    coalesce(o2.n, 0)) >= 2 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 >= 3) d
        |LEFT JOIN o0 USING (doc_id)
        |LEFT JOIN o1 USING (doc_id)
        |LEFT JOIN o2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // SEMANTIC decontamination — the embedding-level companion of the
    // n-gram variants above: a paraphrased eval item shares no
    // shingles but sits next to its source in embedding space. The
    // eval set broadcasts (eval sets are always small); each corpus
    // vector's max cosine over it is computed map-side by the
    // codegen'd kernel, and the per-doc argmax is a partial-aggregated
    // struct max (tiebreak lowest eval id), so only one row per corpus
    // doc ever moves. Oracle: DuckDB list_cosine_similarity, the
    // ann_brute discipline (round(4) on the VALUE, raw sim for the
    // argmax — the kernels agree exactly, ann_brute's hash match is
    // the standing proof).
    Query("pipeline_decon_semantic", (s, d) => {
      val emb = t(s, d, "embeddings")
      val evalSet = broadcast(
        emb.filter(pmod(col("vec_id"), lit(50)) === 0)
          .select(col("vec_id").as("eval_id"),
            col("embedding").as("eval_vec")))
      emb.filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .crossJoin(evalSet)
        .withColumn("sim", graft.functions.VectorFunctions
          .cosineSim(col("embedding"), col("eval_vec")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("sim"), (-col("eval_id")).as("neg_id")))
          .as("m"))
        .select(col("vec_id"), round(col("m.sim"), 4).as("max_sim"),
          (-col("m.neg_id")).as("nearest_eval_id"))
        // testdata vectors are synthetic-random (max observed pair
        // cosine ~0.51), so the flag threshold is calibrated to the
        // corpus; production embeddings use ~0.9
        .filter(col("max_sim") >= 0.4)
        .orderBy(col("vec_id"))
    }, Sql(
      """WITH ev AS (
        |  SELECT vec_id AS eval_id, cast(embedding as DOUBLE[]) AS evec
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT e.vec_id, ev.eval_id,
        |    list_cosine_similarity(cast(e.embedding as DOUBLE[]), ev.evec)
        |      AS sim
        |  FROM embeddings e CROSS JOIN ev
        |  WHERE e.vec_id % 50 <> 0),
        |am AS (
        |  SELECT vec_id, sim, eval_id,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY sim DESC, eval_id) AS rn
        |  FROM scored)
        |SELECT vec_id, round(sim, 4) AS max_sim,
        |  eval_id AS nearest_eval_id
        |FROM am WHERE rn = 1 AND round(sim, 4) >= 0.4
        |ORDER BY vec_id""".stripMargin)),

    // Full SQL path: Spark's parser + analyzer over registered temp
    // views, with graft's native expressions available as SQL functions
    // (the reference has no SQL surface at all — SURVEY §3).
    Query("q_sql_path", (s, d) => {
      functions.Registry.registerAll(s)
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  cast(sum(cast(l_quantity as decimal(18,2))) as double)
          |    AS sum_qty,
          |  count(*) AS n_rows
          |FROM lineitem_v
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))
  )
}
