package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** Training-data pipeline: dedup. */
object DedupQueries {

  /** DuckDB mirror of the embedding near-dup summary: 16-bit
    * hyperplane signatures, two 8-bit bands, 2..1000-sized bucket
    * pair expansion (a<b, distinct across bands), exact cosine, and
    * the symmetric per-vector rollup. */
  private lazy val embeddingDupOracleSql: String =
    s"""WITH ${hyperplaneSigCtes(16)},
       |band AS (SELECT vec_id, bb AS band_id,
       |    (sig >> (bb*8)) & 255 AS band_val
       |  FROM sigt, LATERAL unnest(generate_series(0, 1)) t(bb)),
       |okb AS (SELECT band_id, band_val FROM band
       |        GROUP BY band_id, band_val
       |        HAVING count(*) BETWEEN 2 AND 1000),
       |pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.vec_id < y.vec_id
       |  JOIN okb ON okb.band_id = x.band_id
       |          AND okb.band_val = x.band_val),
       |ev AS (SELECT vec_id, cast(embedding as DOUBLE[]) AS v
       |       FROM embeddings),
       |scored AS (SELECT p.a, p.b,
       |    list_cosine_similarity(va.v, vb.v) AS cosine
       |  FROM pairs p JOIN ev va ON va.vec_id = p.a
       |              JOIN ev vb ON vb.vec_id = p.b),
       |sym AS (SELECT a AS id, cosine FROM scored
       |        UNION ALL SELECT b AS id, cosine FROM scored),
       |pv AS (SELECT id, count(*) AS nc, round(max(cosine), 4) AS mc
       |       FROM sym GROUP BY id)
       |SELECT e.vec_id,
       |  cast(coalesce(pv.nc, 0) as bigint) AS n_candidates,
       |  coalesce(pv.mc, -1.0) AS max_cosine
       |FROM embeddings e LEFT JOIN pv ON pv.id = e.vec_id
       |ORDER BY vec_id""".stripMargin

  /** DuckDB mirror of the SemDedup summary: cell assignment under the
    * embedded IVF centroids (first-max cosine argmax), within-cluster
    * pairs (bucket capped 10000), cosine >= 0.95 verification, and
    * the keep-lowest-id rollup. */
  private lazy val semanticDedupOracleSql: String = {
    val centroidRows = (0 until 8)
      .map(i => s"($i, {{IVF_C${i + 1}}})").mkString(",\n    ")
    s"""WITH c AS (SELECT * FROM (VALUES
       |    $centroidRows) AS t(cid, cvec)),
       |e AS (SELECT vec_id, cast(embedding as DOUBLE[]) AS v
       |      FROM embeddings),
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v,
       |          cast(c.cvec as DOUBLE[])) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |okc AS (SELECT cid FROM asg GROUP BY cid
       |        HAVING count(*) BETWEEN 2 AND 10000),
       |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM asg x JOIN asg y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN okc ON okc.cid = x.cid),
       |dups AS (SELECT p.a, p.b,
       |    list_cosine_similarity(va.v, vb.v) AS cosine
       |  FROM pairs p JOIN e va ON va.vec_id = p.a
       |              JOIN e vb ON vb.vec_id = p.b
       |  WHERE list_cosine_similarity(va.v, vb.v) >= 0.95),
       |sym AS (SELECT a AS id, cosine, false AS drp FROM dups
       |        UNION ALL SELECT b AS id, cosine, true AS drp
       |        FROM dups),
       |pv AS (SELECT id, count(*) AS nd, round(max(cosine), 4) AS mc,
       |         bool_or(drp) AS dropped
       |       FROM sym GROUP BY id)
       |SELECT a.vec_id, cast(a.cid as bigint) AS cid,
       |  cast(coalesce(pv.nd, 0) as bigint) AS n_semantic_dups,
       |  coalesce(pv.mc, -1.0) AS max_cosine,
       |  CASE WHEN coalesce(pv.dropped, false) THEN 0 ELSE 1 END::BIGINT
       |    AS kept
       |FROM asg a LEFT JOIN pv ON pv.id = a.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of the production MinHash-LSH near-dup summary
    * ([[minhashFrontCtes]] + the per-doc rollup at the 0.8
    * threshold). */
  private lazy val minhashSummaryOracleSql: String =
    s"""WITH RECURSIVE
       |${minhashFrontCtes()},
       |sym AS (SELECT a AS id, b AS partner, j FROM jac
       |        UNION ALL SELECT b AS id, a AS partner, j FROM jac),
       |pv AS (SELECT id, count(*) AS nc,
       |         sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS nd,
       |         min(CASE WHEN j >= 0.8 THEN partner END) AS dp
       |       FROM sym GROUP BY id)
       |SELECT d.doc_id,
       |  cast(coalesce(pv.nc, 0) as bigint) AS n_candidates,
       |  cast(coalesce(pv.nd, 0) as bigint) AS n_dups,
       |  cast(coalesce(pv.dp, -1) as bigint) AS dup_partner
       |FROM docs_all d LEFT JOIN pv ON pv.id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the production near-dup CLUSTERS
    * ([[minhashFrontCtes]] edges at 0.8 + 8 unrolled min-propagation
    * rounds, the portableClustersOracleSql discipline). */
  private lazy val minhashClustersOracleSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(min(n.lbl), l.lbl))
         |    AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN adj ad ON ad.src = l.node
         |  LEFT JOIN l${i - 1} n ON n.node = ad.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |${minhashFrontCtes()},
       |edges AS MATERIALIZED (SELECT a, b FROM jac WHERE j >= 0.8),
       |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
       |        UNION SELECT b AS src, a AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl
       |        FROM docs_all),
       |$rounds
       |SELECT node AS doc_id, lbl AS cluster_id, node = lbl AS keep
       |FROM l8 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the incremental dedup: the same banded
    * signatures ([[minhashFrontCtes]] — the persisted sketch tables
    * hold exactly these values), corpus-side buckets compacted and
    * capped at 1000, new-vs-corpus plus new-vs-new candidates, exact
    * shingle-set Jaccard, and the fresh-side rollup at 0.8. */
  private lazy val incrementalMinhashOracleSql: String =
    s"""WITH RECURSIVE
       |${minhashFrontCtes()},
       |cb2 AS (SELECT band_id, band_val, doc_id FROM band
       |        WHERE doc_id % 5 <> 0),
       |nb2 AS (SELECT band_id, band_val, doc_id FROM band
       |        WHERE doc_id % 5 = 0),
       |cbuck AS MATERIALIZED (SELECT band_id, band_val,
       |    list(doc_id ORDER BY doc_id) AS ids
       |  FROM cb2 GROUP BY band_id, band_val
       |  HAVING count(*) <= 1000),
       |nvc AS (SELECT DISTINCT nb2.doc_id AS a, u.cid AS b
       |  FROM nb2 JOIN cbuck USING (band_id, band_val),
       |       LATERAL unnest(cbuck.ids) u(cid)
       |  WHERE u.cid <> nb2.doc_id),
       |okn AS (SELECT band_id, band_val FROM nb2
       |        GROUP BY band_id, band_val
       |        HAVING count(*) BETWEEN 2 AND 1000),
       |nvn AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM nb2 x JOIN nb2 y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id
       |  JOIN okn ON okn.band_id = x.band_id
       |          AND okn.band_val = x.band_val),
       |candi AS (SELECT a, b FROM nvc UNION SELECT a, b FROM nvn),
       |jaci AS MATERIALIZED (SELECT c.a, c.b,
       |    len(list_intersect(ga.gs, gb.gs))::DOUBLE /
       |    (len(ga.gs) + len(gb.gs) -
       |     len(list_intersect(ga.gs, gb.gs))) AS j
       |  FROM candi c JOIN fullg ga ON ga.doc_id = c.a
       |              JOIN fullg gb ON gb.doc_id = c.b),
       |symi AS (SELECT a AS id, b AS partner, j FROM jaci
       |         UNION ALL SELECT b AS id, a AS partner, j FROM jaci),
       |pvi AS (SELECT id, count(*) AS nd, min(partner) AS dp
       |        FROM symi WHERE j >= 0.8 GROUP BY id)
       |SELECT f.doc_id,
       |  cast(coalesce(pvi.nd, 0) as bigint) AS n_dups,
       |  cast(coalesce(pvi.dp, -1) as bigint) AS dup_partner
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) f
       |LEFT JOIN pvi ON pvi.id = f.doc_id
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the production (FNV-hash) SimHash near-dup
    * summary: each DISTINCT token hashes once through the emulated
    * Hash64 (vocabulary-sized recursion, then a multiplicity join),
    * the 64 bit votes aggregate per doc, the signature packs (bit 63
    * via the most-negative-long addition), and the 4x16-bit
    * banded-Hamming tail replays as in the phash oracle. With this,
    * the xxhash-free production summary is cross-engine certified —
    * not just its portable md5 twin. */
  private lazy val simhashOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val stepH = sqlWrapMul(
      "xor(r.h, ('0x' || substr(b.hx, 2*r.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    s"""WITH RECURSIVE
       |tk AS (SELECT doc_id, unnest(string_split(lower(text), ' '))
       |         AS tok FROM documents),
       |tb AS (SELECT tok, hex(encode(tok)) AS hx,
       |         octet_length(encode(tok)) AS len
       |       FROM (SELECT DISTINCT tok FROM tk)),
       |rec(tok, pos, h) AS (
       |  SELECT tok, 0, (-3750763034362895579)::BIGINT FROM tb
       |  UNION ALL
       |  SELECT r.tok, r.pos + 1, $stepH
       |  FROM rec r JOIN tb b ON b.tok = r.tok WHERE r.pos < b.len),
       |fin AS (SELECT r.tok, r.h FROM rec r
       |        JOIN tb b ON b.tok = r.tok WHERE r.pos = b.len),
       |m1 AS (SELECT tok, $mix1 AS h FROM fin),
       |m2 AS (SELECT tok, $mix2 AS h FROM m1),
       |th AS (SELECT tok, xor(h, ${sqlUshr("h", 31)}) AS h FROM m2),
       |votes AS (SELECT t.doc_id, g.bb,
       |    sum(CASE WHEN (th.h >> g.bb) & 1 = 1 THEN 1 ELSE -1 END)
       |      AS v
       |  FROM tk t JOIN th ON th.tok = t.tok,
       |       LATERAL unnest(generate_series(0, 63)) g(bb)
       |  GROUP BY t.doc_id, g.bb),
       |sig AS (SELECT doc_id,
       |  cast(sum(CASE WHEN v > 0 AND bb < 63
       |                THEN (1::BIGINT << bb) ELSE 0 END) as BIGINT)
       |  + CASE WHEN max(CASE WHEN bb = 63 AND v > 0
       |                       THEN 1 ELSE 0 END) = 1
       |         THEN (-9223372036854775808)::BIGINT ELSE 0 END
       |    AS simhash
       |  FROM votes GROUP BY doc_id),
       |band AS (SELECT doc_id, bb AS band_id,
       |  (simhash >> (bb*16)) & 65535 AS band_val
       |  FROM sig, LATERAL unnest(generate_series(0, 3)) t(bb)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id),
       |near AS (SELECT c.a, c.b FROM cand c
       |  JOIN sig pa ON pa.doc_id = c.a
       |  JOIN sig pb ON pb.doc_id = c.b
       |  WHERE bit_count(xor(pa.simhash, pb.simhash)) <= 3),
       |sym AS (SELECT a AS id FROM near
       |        UNION ALL SELECT b AS id FROM near),
       |cnt AS (SELECT id, count(*) AS n FROM sym GROUP BY id)
       |SELECT s.doc_id, s.simhash,
       |  cast(coalesce(c.n, 0) as bigint) AS n_near
       |FROM sig s LEFT JOIN cnt c ON c.id = s.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the character-n-gram Jaccard near-dup summary:
    * every distinct 8-byte window of the lowercased text hashes once
    * through the emulated Hash64 (the gram's own hex string carries
    * the recursion bytes — no side table), docs keep their signed-
    * ascending bottom-32 distinct hashes as the inverted-index sample
    * (the kernel's sortedDistinct + slice), candidate pairs need a
    * 2..10-doc gram bucket and >= 2 shared sampled grams, and the
    * exact Jaccard verifies over the FULL distinct hash sets. */
  private lazy val ngramJaccardOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val stepH = sqlWrapMul(
      "xor(r.h, ('0x' || substr(r.ghx, 2*r.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, hex(encode(lower(text))) AS hx,
       |        octet_length(encode(lower(text))) AS len
       |      FROM documents),
       |gpos AS (SELECT doc_id,
       |    substr(hx, 2*p + 1,
       |      2 * (CASE WHEN len <= 8 THEN len ELSE 8 END)) AS ghx
       |  FROM d, LATERAL unnest(generate_series(0,
       |    CASE WHEN len <= 8 THEN 0 ELSE len - 8 END)) t(p)),
       |gset AS (SELECT DISTINCT ghx FROM gpos),
       |rec(ghx, pos, h) AS (
       |  SELECT ghx, 0, (-3750763034362895579)::BIGINT FROM gset
       |  UNION ALL
       |  SELECT r.ghx, r.pos + 1, $stepH
       |  FROM rec r WHERE 2*r.pos < length(r.ghx)),
       |fin AS (SELECT ghx, h FROM rec WHERE 2*pos = length(ghx)),
       |m1 AS (SELECT ghx, $mix1 AS h FROM fin),
       |m2 AS (SELECT ghx, $mix2 AS h FROM m1),
       |gh AS (SELECT ghx, xor(h, ${sqlUshr("h", 31)}) AS h FROM m2),
       |docg AS (SELECT DISTINCT g.doc_id, gh.h
       |         FROM gpos g JOIN gh ON gh.ghx = g.ghx),
       |sl AS (SELECT doc_id, h FROM (
       |    SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY h) AS rn FROM docg) WHERE rn <= 32),
       |okg AS (SELECT h FROM sl GROUP BY h
       |        HAVING count(*) BETWEEN 2 AND 10),
       |cand AS (SELECT a, b FROM (
       |    SELECT s1.doc_id AS a, s2.doc_id AS b
       |    FROM sl s1 JOIN sl s2 ON s1.h = s2.h
       |      AND s1.doc_id < s2.doc_id
       |    JOIN okg ON okg.h = s1.h)
       |  GROUP BY a, b HAVING count(*) >= 2),
       |fullg AS (SELECT doc_id, list(h ORDER BY h) AS gs
       |          FROM docg GROUP BY doc_id),
       |ver AS (SELECT c.a, c.b,
       |    len(list_intersect(ga.gs, gb.gs)) AS inter,
       |    len(ga.gs) AS na, len(gb.gs) AS nb
       |  FROM cand c JOIN fullg ga ON ga.doc_id = c.a
       |              JOIN fullg gb ON gb.doc_id = c.b),
       |jac AS (SELECT a, b, inter * 1.0 / (na + nb - inter) AS j
       |        FROM ver),
       |sym AS (SELECT a AS id, j FROM jac
       |        UNION ALL SELECT b AS id, j FROM jac),
       |agg AS (SELECT id, round(max(j), 4) AS mj, count(*) AS nc
       |        FROM sym GROUP BY id)
       |SELECT dd.doc_id, coalesce(a.mj, 0.0) AS max_jaccard,
       |  cast(coalesce(a.nc, 0) as bigint) AS n_candidates
       |FROM documents dd LEFT JOIN agg a ON a.id = dd.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the portable LSH -> clusters pipeline: the
    * dedup_minhash_portable pair replay (at the 0.8 cluster
    * threshold) feeding 8 unrolled synchronous min-label-propagation
    * rounds (the lpaOracleSql discipline) — enough for any near-dup
    * component of diameter <= 8; the distributed CC reaches the same
    * unique fixpoint (and throws rather than under-converging). */
  /** Shared CTE chain for the portable-minhash cluster oracles: LSH
    * banding over md5-lane signatures, exact Jaccard verification,
    * and the 8-round min-label fixpoint — ends at `l8` holding
    * (node, lbl). Shared verbatim by [[portableClustersOracleSql]]
    * and [[softDedupOracleSql]]. */
  private lazy val portableClusterCtes: String = {
    val rounds = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(min(n.lbl), l.lbl))
         |    AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN adj ad ON ad.src = l.node
         |  LEFT JOIN l${i - 1} n ON n.node = ad.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |           FROM documents),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(w) >= 3
       |       THEN list_transform(generate_series(1, len(w) - 2),
       |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
       |shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh),
       |hmt AS (SELECT doc_id, sd,
       |  list_transform(sd, x ->
       |    (('0x' || substr(md5(x), 1, 15))::BIGINT) % 2147483647)
       |    AS hm FROM shd),
       |sig AS (SELECT doc_id,
       |  list_transform(generate_series(0, 15),
       |    i -> list_min(list_transform(hm, h ->
       |      (((1103515245 * (i + 1)) % 2147483647) * h +
       |       ((12345 * (i + 1)) % 2147483647)) % 2147483647)))
       |    AS sig FROM hmt),
       |band AS (SELECT doc_id, b AS band_id,
       |  array_to_string(sig[b*2+1 : b*2+2], '|') AS band_key
       |  FROM sig, LATERAL unnest(generate_series(0, 7)) tb(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id),
       |hmd AS (SELECT doc_id, list_distinct(hm) AS hd FROM hmt),
       |ver AS (SELECT c.a, c.b,
       |  len(list_intersect(sa.hd, sb.hd)) AS inter,
       |  len(sa.hd) AS na, len(sb.hd) AS nb
       |  FROM cand c JOIN hmd sa ON sa.doc_id = c.a
       |              JOIN hmd sb ON sb.doc_id = c.b),
       |edges AS (SELECT a, b FROM ver
       |  WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8),
       |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
       |        UNION SELECT b AS src, a AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl
       |        FROM documents),
       |$rounds""".stripMargin
  }

  private lazy val portableClustersOracleSql: String =
    s"""WITH $portableClusterCtes
       |SELECT node AS doc_id, lbl AS cluster_id, node = lbl AS keep
       |FROM l8 ORDER BY doc_id""".stripMargin

  /** Repetition-aware soft dedup replayed on top of the shared
    * cluster fixpoint: cluster sizes from the `l8` assignment, the
    * representative always kept, other members kept iff
    * knuthHash(doc_id)/2^32 < 1/size — decided by HUGEINT
    * cross-multiplication, mirroring the Spark side's DECIMAL(38,0). */
  private lazy val softDedupOracleSql: String =
    s"""WITH $portableClusterCtes,
       |asg AS (SELECT node AS doc_id, lbl AS cluster_id FROM l8),
       |cs AS (SELECT cluster_id, cast(count(*) AS BIGINT) AS c_size
       |       FROM asg GROUP BY cluster_id)
       |SELECT a.doc_id, a.cluster_id, cs.c_size,
       |  (a.doc_id = a.cluster_id OR
       |   cast(${knuthHashSql("a.doc_id")} AS HUGEINT) * cs.c_size
       |     < cast(4294967296 AS HUGEINT)) AS kept
       |FROM asg a JOIN cs USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** graph_pagerank oracle: the power-iteration rounds unrolled as
    * CTEs over the SAME fixed-point integer arithmetic as
    * [[ops.GraphOps.pagerank]] — BIGINT ranks in 1e-15 units,
    * truncating integer division at every step (all values positive,
    * so DuckDB's floor `//` == Spark's truncating `div`), which makes
    * the iteration engine-portable BY CONSTRUCTION. The symmetrized
    * interaction graph has no dangling nodes, so the dangling-mass
    * term is structurally zero on both sides. */
  /** LPA oracle: the synchronous rounds unrolled as CTEs (the
    * pagerankOracleSql discipline) — integer count argmax with
    * (cnt DESC, label ASC) total tie order, self-loops included, over
    * the same hour-bucketed co-occurrence graph as graph_triangles. */
  private def lpaOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (SELECT src AS node, label FROM (
         |  SELECT a.src, l.label, count(*) AS cnt,
         |    row_number() OVER (PARTITION BY a.src
         |      ORDER BY count(*) DESC, l.label) AS rn
         |  FROM adj a JOIN l${i - 1} l ON l.node = a.dst
         |  GROUP BY a.src, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
       |         lead(user_id) OVER (
       |           PARTITION BY event_type, date_trunc('hour', ts)
       |           ORDER BY ts, event_id) AS nxt
       |  FROM events),
       |e0 AS (SELECT DISTINCT least(user_id, nxt) AS u,
       |              greatest(user_id, nxt) AS v
       |       FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
       |nodes AS (SELECT DISTINCT u AS node FROM
       |          (SELECT u FROM e0 UNION ALL SELECT v FROM e0) t(u)),
       |adj AS (SELECT u AS src, v AS dst FROM e0
       |        UNION ALL SELECT v, u FROM e0
       |        UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds
       |SELECT node, label AS community FROM l$iters
       |ORDER BY node""".stripMargin
  }

  private def pagerankOracleSql(iters: Int): String = {
    val rounds = pagerankRoundsSql(iters)
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS BIGINT) AS usr,
       |    TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
       |      + 1000000 AS item
       |  FROM events
       |  WHERE TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
       |          AS BIGINT) IS NOT NULL),
       |e AS (SELECT usr AS src, item AS dst FROM ev
       |      UNION ALL SELECT item, usr FROM ev),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |params AS (SELECT count(*) AS n,
       |    1000000000000000 // count(*) AS r_init,
       |    (15 * (1000000000000000 // count(*))) // 100 AS base
       |  FROM nodes),
       |r0 AS (SELECT node, (SELECT r_init FROM params) AS rank_f
       |       FROM nodes),
       |$rounds
       |SELECT node,
       |  CASE WHEN node >= 1000000 THEN 'item' ELSE 'user' END AS kind,
       |  round(rank_f / 1000000000000000.0, 6) AS rank
       |FROM r$iters
       |ORDER BY rank_f DESC, node LIMIT 20""".stripMargin
  }

  /** Personalized-PageRank oracle: [[pagerankOracleSql]] with the
    * teleport vector concentrated on the seed set — r0 and the
    * per-round base are CASE-gated on seed membership, everything
    * else (integer shares, `//` division, unrolled rounds) is the
    * certified pagerank replay verbatim. The bipartite graph is
    * symmetrized, so there is no dangling mass on either side. */
  private def pprOracleSql(iters: Int, seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val s = seeds.length
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    (CASE WHEN n.node IN ($seedList)
         |          THEN (SELECT base FROM params) ELSE 0 END) +
         |      (85 * coalesce(c.contrib, 0)) // 100 AS rank_f
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(s.share) AS BIGINT) AS contrib
         |    FROM e JOIN (
         |      SELECT r.node, r.rank_f // d.deg AS share
         |      FROM r${i - 1} r JOIN deg d USING (node)) s
         |      ON e.src = s.node
         |    GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS BIGINT) AS usr,
       |    TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
       |      + 1000000 AS item
       |  FROM events
       |  WHERE TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
       |          AS BIGINT) IS NOT NULL),
       |e AS (SELECT usr AS src, item AS dst FROM ev
       |      UNION ALL SELECT item, usr FROM ev),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |params AS (SELECT 1000000000000000 // $s AS r_init,
       |    (15 * (1000000000000000 // $s)) // 100 AS base),
       |r0 AS (SELECT node,
       |    CASE WHEN node IN ($seedList)
       |         THEN (SELECT r_init FROM params) ELSE 0 END AS rank_f
       |  FROM nodes),
       |$rounds
       |SELECT node,
       |  CASE WHEN node >= 1000000 THEN 'item' ELSE 'user' END AS kind,
       |  round(rank_f / 1000000000000000.0, 6) AS rank
       |FROM r$iters
       |ORDER BY rank_f DESC, node LIMIT 20""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // Exact dedup: keep lowest doc_id per identical text.
    Query("dedup_exact", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    // Canonical-form exact dedup: case-fold, strip punctuation,
    // collapse whitespace, THEN hash — catches "same doc, different
    // formatting" copies that byte-exact dedup misses, at exact-dedup
    // cost (one hash shuffle, no pairwise work). Only the 16-byte md5
    // of the canonical form moves through the shuffle, not the text.
    Query("dedup_canonical", (s, d) => {
      val canon = md5(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
      t(s, d, "documents")
        .groupBy(canon.as("canon_md5"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, n_copies FROM (
        |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon,
        |    min(doc_id) AS doc_id, count(*) AS n_copies
        |  FROM documents GROUP BY canon)
        |ORDER BY doc_id""".stripMargin)),

    // MinHash-LSH near-dup: shingle → signature → band → bucket join →
    // exact-Jaccard verify (graft.ops.DedupOps). Rows-only check (the
    // sketch pipeline is not expressible in ANSI SQL).
    Query("dedup_minhash", (s, d) => {
      ops.DedupOps.minhashDedupSummary(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(minhashSummaryOracleSql)),

    // MinHash-LSH with the PORTABLE md5 hash family: identical
    // shingles, lane minima, band keys, candidates and surviving
    // pairs are recomputed by the DuckDB oracle, so the whole LSH
    // pipeline (not just its verification tail) is hash-checked
    // cross-engine. The xxhash64 variant above stays the production
    // wire format; this run certifies the pipeline's structure.
    Query("dedup_minhash_portable", (s, d) => {
      ops.DedupOps.portableMinhashPairs(t(s, d, "documents"),
          "doc_id", "text")
        .orderBy(col("a"), col("b"))
    },
      // The PORTABLE-hash MinHash pipeline replayed move for move: one
      // md5 per shingle parsed to a 60-bit BIGINT, affine lane family
      // (a·h+b) mod 2^31-1 with the same fixed multipliers, '|'-joined
      // band keys, distinct bucket pairs, exact-Jaccard verification —
      // a hash match here certifies the full LSH pipeline, not just its
      // tail.
      Sql(
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh),
        |hmt AS (SELECT doc_id, sd,
        |  list_transform(sd, x ->
        |    (('0x' || substr(md5(x), 1, 15))::BIGINT) % 2147483647)
        |    AS hm FROM shd),
        |sig AS (SELECT doc_id,
        |  list_transform(generate_series(0, 15),
        |    i -> list_min(list_transform(hm, h ->
        |      (((1103515245 * (i + 1)) % 2147483647) * h +
        |       ((12345 * (i + 1)) % 2147483647)) % 2147483647)))
        |    AS sig FROM hmt),
        |band AS (SELECT doc_id, b AS band_id,
        |  array_to_string(sig[b*2+1 : b*2+2], '|') AS band_key
        |  FROM sig, LATERAL unnest(generate_series(0, 7)) tb(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |   AND x.doc_id < y.doc_id),
        |hmd AS (SELECT doc_id, list_distinct(hm) AS hd FROM hmt),
        |ver AS (SELECT c.a, c.b,
        |  len(list_intersect(sa.hd, sb.hd)) AS inter,
        |  len(sa.hd) AS na, len(sb.hd) AS nb
        |  FROM cand c JOIN hmd sa ON sa.doc_id = c.a
        |              JOIN hmd sb ON sb.doc_id = c.b)
        |SELECT a, b,
        |  round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM ver
        |WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.7
        |ORDER BY a, b""".stripMargin)),

    // Transitive near-dup CLUSTERS over the PORTABLE pair pipeline —
    // the full LSH -> connected-components -> keep-lowest-id flow,
    // oracle-certified END TO END: the DuckDB mirror replays the md5
    // lane hashes, banding, candidates and exact-Jaccard verification
    // (the dedup_minhash_portable oracle) and then the min-label
    // propagation fixpoint as unrolled rounds. The distributed CC
    // (pointer doubling, decimal-sum convergence, throws rather than
    // returning unconverged labels) reaches the same unique fixpoint.
    Query("dedup_clusters_portable", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = ops.DedupOps.portableMinhashPairs(docs, "doc_id",
          "text", threshold = 0.8)
        .select(col("a"), col("b"))
      ops.ClusterOps.clusterAssignments(docs, "doc_id", edges)
        .orderBy(col("doc_id"))
    }, Sql(portableClustersOracleSql)),

    // Repetition-aware SOFT dedup (the SemDeDup/D4 retention policy):
    // hard dedup drops every non-representative near-dup, which
    // over-prunes clusters whose members differ meaningfully; soft
    // dedup keeps the representative ALWAYS and every other member
    // with probability 1/cluster_size, so a cluster's expected
    // surviving mass is ~constant regardless of how many times its
    // content was crawled. The keep decision is the portable Knuth
    // hash cross-multiplied in DECIMAL(38,0) (h·size < 2^32 — no
    // float division, DuckDB replays in HUGEINT). Cluster sizes are
    // one bounded aggregate over the assignment manifest; at 100 TB
    // nothing here is wider than (doc_id, cluster_id, long).
    Query("pipeline_soft_dedup", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = ops.DedupOps.portableMinhashPairs(docs, "doc_id",
          "text", threshold = 0.8)
        .select(col("a"), col("b"))
      val asg = ops.ClusterOps.clusterAssignments(docs, "doc_id", edges)
      val sizes = asg.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("c_size"))
      val dec = org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)
      asg.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("c_size"),
          (col("keep") ||
            knuthHash(col("doc_id")).cast(dec) * col("c_size").cast(dec)
              < lit(4294967296L).cast(dec)).as("kept"))
        .orderBy(col("doc_id"))
    }, Sql(softDedupOracleSql)),

    // Segment-level global dedup + reassembly (the CCNet/C4 line-dedup
    // curation stage): first occurrence of each 16-token segment wins,
    // every other occurrence is dropped, docs reassemble from their
    // surviving segments; the emitted md5 of each reassembled doc
    // certifies the reconstruction cross-engine without moving text.
    Query("dedup_segments", (s, d) => {
      ops.DedupOps.segmentDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Same segmentation, same first-occurrence election (row_number
      // over (doc_id, seg_idx) per hash), same ordered reassembly — the
      // md5 match certifies every surviving segment of every doc.
      Sql(
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |seg AS (SELECT doc_id, i - 1 AS seg_idx,
        |  array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ') AS seg
        |  FROM t, LATERAL unnest(generate_series(1, (len(w)+15)//16))
        |    s(i)),
        |ranked AS (SELECT doc_id, seg_idx, seg,
        |  row_number() OVER (PARTITION BY md5(seg)
        |                     ORDER BY doc_id, seg_idx) AS rn
        |  FROM seg),
        |kept AS (SELECT doc_id, seg_idx, seg FROM ranked WHERE rn = 1)
        |SELECT d.doc_id, d.n_segs,
        |  count(k.seg_idx) AS n_kept,
        |  md5(coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx), ''))
        |    AS text_md5
        |FROM (SELECT doc_id, (len(w)+15)//16 AS n_segs FROM t) d
        |LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id, d.n_segs
        |ORDER BY doc_id""".stripMargin)),

    // EXACT set-similarity self-join by prefix filtering (AllPairs/
    // PPJoin): every distinct-token-Jaccard >= 0.7 pair, no
    // probabilistic miss — the deterministic complement of the LSH
    // family, and therefore fully oracle-checkable: DuckDB replays the
    // same (df, token) global order, integer-exact prefix lengths,
    // prefix-share candidates, and exact intersection counts.
    Query("dedup_setsim_exact", (s, d) => {
      ops.DedupOps.setSimPairsExact(t(s, d, "documents"),
          "doc_id", "text")
        .orderBy(col("a"), col("b"))
    },
      // Prefix filtering replayed move for move: same md5-long set
      // elements, same (df, hash) global order, same integer-exact
      // prefix length (7n+9)//10, same prefix-share candidates, same
      // size-compatibility cut, same intersection counts — the hash
      // match certifies the EXACT join end-to-end.
      Sql(
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |shd AS (SELECT doc_id, list_distinct(list_transform(s, x ->
        |  (('0x' || substr(md5(x), 1, 15))::BIGINT) % 2147483647))
        |  AS hd FROM sh),
        |tok AS (SELECT doc_id, unnest(hd) AS h FROM shd),
        |df AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
        |rk AS (SELECT t.doc_id, t.h, d.df FROM tok t JOIN df d
        |       USING (h)),
        |st AS (SELECT doc_id, array_agg(h ORDER BY df, h) AS hs,
        |              count(*) AS n
        |       FROM rk GROUP BY doc_id),
        |pre AS (SELECT doc_id,
        |  unnest(hs[1 : n - (7 * n + 9) // 10 + 1]) AS h FROM st),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM pre x JOIN pre y
        |    ON x.h = y.h AND x.doc_id < y.doc_id),
        |ver AS (SELECT c.a, c.b,
        |  len(list_intersect(sa.hd, sb.hd)) AS inter,
        |  len(sa.hd) AS na, len(sb.hd) AS nb
        |  FROM cand c JOIN shd sa ON sa.doc_id = c.a
        |              JOIN shd sb ON sb.doc_id = c.b
        |  WHERE 10 * least(len(sa.hd), len(sb.hd)) >=
        |        7 * greatest(len(sa.hd), len(sb.hd)))
        |SELECT a, b,
        |  round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM ver
        |WHERE inter * 10 >= 7 * (na + nb - inter)
        |ORDER BY a, b""".stripMargin)),

    // SimHash with the PORTABLE md5 family — the Hamming twin of
    // dedup_minhash_portable: the oracle replays per-shingle md5
    // votes, bit-majority signature, 4x15-bit bands, candidates, and
    // popcount verification, certifying the banded-Hamming pipeline
    // end-to-end cross-engine.
    Query("dedup_simhash_portable", (s, d) => {
      ops.DedupOps.portableSimhashPairs(t(s, d, "documents"),
          "doc_id", "text")
        .orderBy(col("a"), col("b"))
    },
      // The portable SimHash replayed bit for bit: same md5-per-shingle
      // votes (with multiplicity), same strict-majority bit rule, same
      // band keys, same popcount cut.
      Sql(
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |hm AS (SELECT doc_id,
        |  (('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT)
        |    % 2147483647 AS h FROM sh),
        |bits AS (SELECT doc_id, b,
        |  CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1
        |                     THEN 1 ELSE -1 END) > 0
        |       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM hm, LATERAL unnest(generate_series(0, 59)) tb(b)
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, cast(sum(bit * (1::BIGINT << b))
        |                            AS BIGINT) AS sig
        |        FROM bits GROUP BY doc_id),
        |band AS (SELECT doc_id, b AS band_id,
        |  (sig >> (b * 15)) & 32767 AS band_key
        |  FROM sig, LATERAL unnest(generate_series(0, 3)) tb(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |   AND x.doc_id < y.doc_id)
        |SELECT c.a, c.b,
        |  cast(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |FROM cand c JOIN sig sa ON sa.doc_id = c.a
        |            JOIN sig sb ON sb.doc_id = c.b
        |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
        |ORDER BY a, b""".stripMargin)),

    // SimHash near-dup: 64-bit signature + banded Hamming blocking.
    Query("dedup_simhash", (s, d) => {
      ops.DedupOps.simhashSummary(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(simhashOracleSql)),

    // n-gram Jaccard near-dup via df-pruned inverted index.
    Query("dedup_ngram_jaccard", (s, d) => {
      ops.DedupOps.ngramJaccardSummary(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(ngramJaccardOracleSql)),

    // Embedding-cosine near-dup via hyperplane LSH + exact verify.
    Query("dedup_embedding", (s, d) => {
      ops.AnnOps.embeddingDupSummary(t(s, d, "embeddings"), "vec_id",
        "embedding").orderBy(col("vec_id"))
    }, Sql(embeddingDupOracleSql)),

    // SemDedup semantic dedup: k-means clusters (deterministic Lloyd,
    // the IVF model) + within-cluster exact-cosine verify + keep-
    // lowest-id — removes "same meaning, different words" redundancy
    // that MinHash/SimHash (lexical overlap) cannot see. Rows-only
    // check (clustering is not SQL-expressible); the planted-near-dup
    // removal gate and the bounded-candidate shape are Round7Spec-
    // gated.
    Query("dedup_semantic", (s, d) => {
      ops.AnnOps.semanticDedupSummary(t(s, d, "embeddings"), "vec_id",
        "embedding").orderBy(col("vec_id"))
    }, Sql(semanticDedupOracleSql)),

    // Incremental dedup: a 20% "new ingest batch" checked against the
    // other 80% THROUGH ITS PERSISTED SKETCH TABLES only (bands +
    // hashed shingle sets — no corpus text re-read, no re-sketch): the
    // shape a daily ingest at 100 TB actually runs. Rows-only; exact
    // equivalence with full recompute is IncrementalDedupSpec-gated.
    Query("dedup_incremental", (s, d) => {
      val all = t(s, d, "documents")
      val corpus = all.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val fresh = all.filter(pmod(col("doc_id"), lit(5)) === 0)
      val pairs = ops.DedupOps.incrementalMinhashPairs(fresh,
        ops.DedupOps.minhashBands(corpus, "doc_id", "text"),
        ops.DedupOps.shingleSets(corpus, "doc_id", "text"),
        "doc_id", "text")
      // the summary symmetrizes, so a new-vs-new pair credits BOTH
      // endpoints; keying it by `fresh` drops corpus-side rows again
      ops.DedupOps.partnerSummary(fresh, "doc_id", pairs, 0.8)
        .select(col("doc_id"), col("n_dups"), col("dup_partner"))
        .orderBy(col("doc_id"))
    }, Sql(incrementalMinhashOracleSql)),

    // Transitive cluster resolution under the ORACLE: connected
    // components over CHAIN edges linking consecutive doc_ids of each
    // identical-text group (built with one window pass — no unbounded
    // per-group buffers). Chains make min-id propagation take multiple
    // hops, so this genuinely exercises the distributed CC loop, while
    // the fixpoint is SQL-expressible: cluster_id == min(doc_id) over
    // the text group.
    Query("dedup_clusters_exact", (s, d) => {
      val docs = t(s, d, "documents")
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val edges = docs.select(col("doc_id"), col("text"))
        .withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      ops.ClusterOps.clusterAssignments(docs, "doc_id", edges)
        .orderBy(col("doc_id"))
    },
      // Fixpoint of the distributed CC loop over identical-text chain
      // edges == per-text-group minimum, which IS SQL-expressible.
      Sql(
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS cluster_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY text) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Transitive NEAR-dup clusters: MinHash-LSH pairs at Jaccard >= 0.8
    // → connected components → keep-lowest-id per cluster. Rows-only
    // check (sketch pipeline not expressible in SQL); transitivity /
    // minimality / union-find equivalence are ScalaTest-gated
    // (ClusterOpsSpec).
    Query("dedup_clusters", (s, d) => {
      ops.ClusterOps.nearDupClusters(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(minhashClustersOracleSql)),

    // Key-distribution skew diagnostics: per event type, the numbers
    // that decide whether a key needs salting BEFORE a join/agg ships
    // — distinct keys, Shannon entropy of the key distribution (low
    // entropy = concentrated), and the share of the hottest key. Two
    // chained aggregations (events → per-key counts → per-type stats);
    // the entropy terms go through the round-then-DECIMAL-sum
    // discipline so the result is shuffle-order-exact. Compare
    // q_skew_join / q_salted_agg, which act on what this measures.
    Query("q_skew_profile", (s, d) => {
      val perKey = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      // per-type totals as a broadcast tiny table, NOT a window over
      // the per-key rows — a whole-partition window would serialize
      // each type at billions of distinct keys
      val totals = perKey.groupBy(col("event_type"))
        .agg(sum(col("n")).as("total"))
      val p = col("n").cast("double") / col("total")
      perKey
        .join(broadcast(totals), Seq("event_type"))
        .withColumn("term",
          round(-p * log(p), 12).cast(DecimalType(28, 14)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"),
          round(sum(col("term")).cast("double"), 6).as("entropy"),
          round(max(col("n")).cast("double") / max(col("total")), 6)
            .as("top1_share"))
        .orderBy(col("event_type"))
    }, Sql(
      """WITH pk AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY event_type, user_id),
        |tt AS (
        |  SELECT event_type, cast(sum(n) as bigint) AS total
        |  FROM pk GROUP BY event_type),
        |terms AS (
        |  SELECT pk.event_type, n, total,
        |    cast(round(-(cast(n as double) / total)
        |        * ln(cast(n as double) / total), 12)
        |      as decimal(28,14)) AS term
        |  FROM pk JOIN tt ON pk.event_type = tt.event_type)
        |SELECT event_type, count(*) AS n_keys,
        |  cast(sum(n) as bigint) AS n_rows,
        |  round(cast(sum(term) as double), 6) AS entropy,
        |  round(cast(max(n) as double) / max(total), 6) AS top1_share
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Markup-removal curation stage: strip tags, decode the common
    // entities, collapse whitespace — the HTML→text step a web-scrape
    // pipeline runs before any quality/dedup pass. The corpus is plain
    // text, so the query synthesizes deterministic markup around it
    // first (wrapper + per-sentence <p> tags + an entity-bearing
    // footer) and then strips it; the oracle runs the SAME wrap+strip
    // chain, verifying every regex in the chain end-to-end (all
    // RE2-compatible, no lookarounds). Narrow scan-side work; the
    // 16-byte md5 of the cleaned text travels, not the text.
    Query("text_html_strip", (s, d) => {
      val html = concat(
        lit("<html><head><title>d</title></head><body><p>"),
        regexp_replace(col("text"), "\\. ", ".</p> <p>"),
        lit("</p><div class=\"footer\">&amp;copy; 2026 &lt;corp&gt;</div>" +
          "</body></html>"))
      val noTags = regexp_replace(html, "<[^>]*>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
      val clean = trim(regexp_replace(decoded, " +", " "))
      t(s, d, "documents")
        .select(col("doc_id"),
          length(clean).cast("bigint").as("n_chars_clean"),
          md5(clean.cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>d</title></head><body><p>' ||
        |    regexp_replace(text, '\. ', '.</p> <p>', 'g') ||
        |    '</p><div class="footer">&amp;copy; 2026 &lt;corp&gt;</div>' ||
        |    '</body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    ' +', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, cast(length(clean) as bigint) AS n_chars_clean,
        |  md5(clean) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Incremental aggregate maintenance: the last 20% of the event
    // timeline is the "new batch"; per-(type, day) partial aggregates
    // over the OLD state and the DELTA are merged by re-aggregation —
    // counts add, sums add EXACTLY because partials stay DECIMAL until
    // the final cast. The oracle recomputes directly over all events,
    // so the hash match IS the proof that merge(state, delta) ==
    // recompute — the correctness property a daily materialized-view
    // refresh at 100 TB depends on (there the state side is a stored
    // table and only the delta is scanned; the merge shape is
    // identical).
    Query("q_incr_agg", (s, d) => {
      val dayNs = 86400000000000L
      val ev = t(s, d, "events")
        .select(col("event_type"), expr(s"ts div $dayNs").as("day"),
          col("value"))
      val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .selectExpr("d0 + (4 * (d1 - d0)) div 5 AS cut")
      val cut = ev.crossJoin(broadcast(bounds))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      val state = partial(cut.filter(col("day") < col("cut")))
      val delta = partial(cut.filter(col("day") >= col("cut")))
      state.union(delta)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("total_value"))
        .orderBy(col("event_type"), col("day"))
    },
      // the oracle is the DIRECT recompute — hash match proves the
      // state+delta merge exact
      Sql(
      """SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |  count(*) AS n_events,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total_value
        |FROM events GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin)),

    // Corpus release diff: old/new dataset versions (derived
    // deterministically here — 10% dropped each side, every 7th doc
    // edited) full-outer-joined on doc_id comparing content md5s →
    // per-status counts + id checksums. The dataset-release audit
    // (what changed between v1 and v2) a training pipeline runs
    // before re-ingesting; one co-keyed full-outer join where only
    // (id, 16-byte md5) pairs shuffle — at 100 TB the hashes come
    // from the ingest manifest, not a re-read.
    Query("q_corpus_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val oldV = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h_old"))
      val newText = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text"))
      val newV = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        .select(col("doc_id"), md5(newText.cast("binary")).as("h_new"))
      oldV.join(newV, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") === col("h_new"), "same")
            .otherwise("changed"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("status"))
    }, Sql(
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS h_old FROM documents
        |  WHERE doc_id % 10 <> 0),
        |nv AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
        |                          THEN text || ' v2' ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 10 <> 3),
        |j AS (
        |  SELECT coalesce(o.doc_id, nv.doc_id) AS doc_id, h_old, h_new
        |  FROM o FULL OUTER JOIN nv ON o.doc_id = nv.doc_id)
        |SELECT CASE WHEN h_old IS NULL THEN 'added'
        |            WHEN h_new IS NULL THEN 'removed'
        |            WHEN h_old = h_new THEN 'same'
        |            ELSE 'changed' END AS status,
        |  count(*) AS n_docs, cast(sum(doc_id) as bigint) AS id_sum
        |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // Manifest-level corpus release diff: each version summarized per
    // shard as (doc count, order-invariant content signature — the sum
    // of per-doc md5-longs mod 2³¹−1), then the RELEASE comparison
    // runs over the two shard manifests alone. At 100 TB the manifest
    // is written at ingest (KB per shard) and a release diff reads
    // manifests, not data — q_corpus_diff's per-doc join is the
    // drill-down run only on shards this query flags 'changed'.
    // Deterministic v1/v2 derivation = q_corpus_diff's convention.
    Query("q_manifest_diff", (s, d) => {
      val docs = t(s, d, "documents")
      def manifest(v: DataFrame, n: String, sig: String) = v
        .select(pmod(col("doc_id"), lit(16)).as("shard"),
          (conv(substring(md5(col("text").cast("binary")), 1, 15),
            16, 10).cast("long") % lit(2147483647L)).as("h"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as(n), sum(col("h")).as(sig))
      val v1 = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val v2 = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      manifest(v1, "n_old", "sig_old")
        .join(manifest(v2, "n_new", "sig_new"), Seq("shard"),
          "full_outer")
        .select(col("shard"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          when(col("n_old").isNull, "added")
            .when(col("n_new").isNull, "removed")
            .when(col("n_old") === col("n_new") &&
              col("sig_old") === col("sig_new"), "same")
            .otherwise("changed").as("status"))
        .orderBy(col("shard"))
    },
      // Same shard summaries (count + order-invariant md5-long sum mod
      // 2³¹−1), same full-outer manifest compare.
      Sql(
      """WITH v1 AS (SELECT doc_id, text FROM documents
        |            WHERE doc_id % 10 <> 0),
        |v2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |                           THEN text || ' v2' ELSE text END
        |         AS text
        |       FROM documents WHERE doc_id % 10 <> 3),
        |m1 AS (SELECT doc_id % 16 AS shard, count(*) AS n_old,
        |  cast(sum((('0x' || substr(md5(text), 1, 15))::BIGINT)
        |           % 2147483647) AS BIGINT) AS sig_old
        |  FROM v1 GROUP BY shard),
        |m2 AS (SELECT doc_id % 16 AS shard, count(*) AS n_new,
        |  cast(sum((('0x' || substr(md5(text), 1, 15))::BIGINT)
        |           % 2147483647) AS BIGINT) AS sig_new
        |  FROM v2 GROUP BY shard)
        |SELECT coalesce(m1.shard, m2.shard) AS shard,
        |  coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
        |  CASE WHEN m1.shard IS NULL THEN 'added'
        |       WHEN m2.shard IS NULL THEN 'removed'
        |       WHEN n_old = n_new AND sig_old = sig_new THEN 'same'
        |       ELSE 'changed' END AS status
        |FROM m1 FULL OUTER JOIN m2 ON m1.shard = m2.shard
        |ORDER BY shard""".stripMargin)),

    // Per-source language-mixture divergence: KL(p(lang|source) ||
    // p(lang)) — the drift/imbalance audit that flags a source whose
    // language mix diverges from the corpus before it skews a
    // mixture plan (compare pipeline_budget). Three tiny aggregates +
    // broadcast joins; per-term doubles are rounded then summed as
    // DECIMAL so the 5-term sum is shuffle-order-exact (the dsum
    // discipline), with ln parity guarded by the final round(6).
    Query("q_mixture_kl", (s, d) => {
      val docs = t(s, d, "documents")
      val sl = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_sl"))
      val sTot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val lTot = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val tot = docs.agg(count(lit(1)).as("n"))
      val p = col("n_sl").cast("double") / col("n_s")
      val q = col("n_l").cast("double") / col("n")
      sl.join(sTot, Seq("source")).join(broadcast(lTot), Seq("lang"))
        .crossJoin(broadcast(tot))
        .withColumn("term",
          round(p * log(p / q), 12).cast(DecimalType(28, 14)))
        .groupBy(col("source"))
        .agg(round(sum(col("term")).cast("double"), 6).as("kl"),
          count(lit(1)).as("n_langs"))
        .orderBy(col("source"))
    }, Sql(
      """WITH sl AS (
        |  SELECT source, lang, count(*) AS n_sl
        |  FROM documents GROUP BY source, lang),
        |st AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |lt AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
        |tt AS (SELECT count(*) AS n FROM documents),
        |terms AS (
        |  SELECT sl.source,
        |    cast(round(
        |      (cast(n_sl as double) / n_s) *
        |        ln((cast(n_sl as double) / n_s)
        |           / (cast(n_l as double) / n)), 12)
        |      as decimal(28,14)) AS term
        |  FROM sl JOIN st ON sl.source = st.source
        |          JOIN lt ON sl.lang = lt.lang
        |          CROSS JOIN tt)
        |SELECT source, round(cast(sum(term) as double), 6) AS kl,
        |  count(*) AS n_langs
        |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // PageRank over the bipartite user↔item interaction graph from
    // the event log (item = the props.k key, offset into its own id
    // space; edges symmetrized so the walk alternates user→item→user
    // and no node dangles). The rank is the graph-centrality quality
    // signal a curation pipeline uses to weight sources/domains (the
    // web-graph analogue of domain authority). Fixed-point integer
    // power iteration — exact, shuffle-order-independent, one Spark
    // job per round (see GraphOps scaladoc); rows-only check (iterative
    // fixpoint not SQL-expressible), exact-equality + invariant gates
    // in Round7Spec. Multi-edges deliberately weight the walk by
    // interaction frequency.
    Query("graph_pagerank", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id").cast("long").as("user"),
          (get_json_object(col("props"), "$.k").cast("long") + 1000000L)
            .as("item"))
        .filter(col("item").isNotNull)
      val edges = ev.select(col("user").as("src"), col("item").as("dst"))
        .union(ev.select(col("item").as("src"), col("user").as("dst")))
      ops.GraphOps.pagerank(edges, "src", "dst")
        .withColumn("kind",
          when(col("node") >= 1000000L, "item").otherwise("user"))
        .orderBy(col("rank_f").desc, col("node"))
        .limit(20)
        .select(col("node"), col("kind"),
          round(col("rank_f") / 1e15, 6).as("rank"))
    }, Sql(pagerankOracleSql(12))),

    // Personalized PageRank from a 3-user seed set over the same
    // bipartite user-item graph — the walker teleports to the seeds,
    // so ranks measure proximity TO THOSE USERS (the
    // recommend-from-here score). Fixed-point integer ranks, 12
    // unrollable rounds, teleport/dangling mass concentrated on the
    // seeds; the oracle replays every round as a CTE (the pagerank
    // discipline with a seed-indicator base).
    Query("graph_ppr", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id").cast("long").as("user"),
          (get_json_object(col("props"), "$.k").cast("long") + 1000000L)
            .as("item"))
        .filter(col("item").isNotNull)
      val edges = ev.select(col("user").as("src"), col("item").as("dst"))
        .union(ev.select(col("item").as("src"), col("user").as("dst")))
      ops.GraphOps.personalizedPagerank(edges, "src", "dst",
          seeds = Seq(0L, 1L, 2L))
        .withColumn("kind",
          when(col("node") >= 1000000L, "item").otherwise("user"))
        .orderBy(col("rank_f").desc, col("node"))
        .limit(20)
        .select(col("node"), col("kind"),
          round(col("rank_f") / 1e15, 6).as("rank"))
    }, Sql(pprOracleSql(12, Seq(0L, 1L, 2L)))),

    // Time-weighted average of the event value per user (TWAP) — the
    // irregular-sampling mean a metrics/finance stack needs: each
    // interval weights its LEFT endpoint's value by the interval
    // length. ALL-INTEGER arithmetic: values become exact cents
    // (round(value·100) — integer-scale rounding, cross-engine safe),
    // intervals become milliseconds by integer div, and the per-user
    // sums are long products — the only float op is the final output
    // division. One window on (user, ts) + one aggregate, co-keyed.
    Query("q_twap", (s, d) => {
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("dt_ms",
          expr("(lead(ts, 1) OVER (PARTITION BY user_id " +
            "ORDER BY ts, event_id) - ts) div 1000000"))
        .filter(col("dt_ms").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt_ms")).as("total_ms"),
          sum(col("cents") * col("dt_ms")).as("num"))
        .select(col("user_id"), col("n_intervals"), col("total_ms"),
          round(col("num").cast("double")
            / (col("total_ms") * 100), 6).as("twap"))
        .orderBy(col("user_id"))
    },
      // TWAP: exact cents × millisecond intervals, all-long sums; the
      // only float op is the final output division.
      Sql(
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    cast(round(value * 100) AS bigint) AS cents,
        |    (epoch_us(lead(ts) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id)) - epoch_us(ts)) // 1000 AS dt_ms
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  cast(sum(dt_ms) AS bigint) AS total_ms,
        |  round(cast(sum(cents * dt_ms) AS double)
        |    / (sum(dt_ms) * 100), 6) AS twap
        |FROM ev WHERE dt_ms IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Exact triangle counting over the temporal co-occurrence graph:
    // users adjacent in the (event_type, hour) event sequence share an
    // undirected edge (the window is bucketed by type AND hour, so no
    // partition outgrows one hour of one stream — never a global
    // sort; hour-boundary pairs are deliberately out of contract).
    // GraphOps.triangles orients each edge low→high (degree, id) so
    // every triangle counts once and no hub can make the wedge join
    // quadratic (out-degree is O(√m) after orientation). Output: the
    // global count as node -1 plus the top-20 most clustered nodes.
    Query("graph_triangles", (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val adj = t(s, d, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
          col("user_id"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(least(col("user_id"), col("nxt")).as("u"),
          greatest(col("user_id"), col("nxt")).as("v"))
        .distinct()
      val tri = ops.GraphOps.triangles(adj, "u", "v").localCheckpoint()
      val perNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node")).limit(20)
      tri.agg(count(lit(1)).as("n_triangles"))
        .select(lit(-1L).as("node"), col("n_triangles"))
        .unionByName(perNode)
        .orderBy(col("node"))
    },
      // Same temporal-adjacency graph, same degree-ordered orientation
      // ((deg, id) tuple compare), same two-join wedge closure.
      Sql(
      """WITH seq AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |         lead(user_id) OVER (
        |           PARTITION BY event_type, date_trunc('hour', ts)
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |e0 AS (SELECT DISTINCT least(user_id, nxt) AS u,
        |              greatest(user_id, nxt) AS v
        |       FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
        |deg AS (SELECT n, count(*) AS d FROM
        |        (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
        |        GROUP BY n),
        |ed AS (SELECT
        |  CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS a,
        |  CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS b
        |  FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM ed e1 JOIN ed e2 ON e2.a = e1.b
        |        JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, count(*) AS n_triangles FROM
        |       (SELECT x AS node FROM tri UNION ALL
        |        SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |       GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20)
        |SELECT * FROM (
        |  SELECT cast(-1 AS bigint) AS node,
        |         (SELECT count(*) FROM tri) AS n_triangles
        |  UNION ALL SELECT node, n_triangles FROM pn)
        |ORDER BY node""".stripMargin)),

    // Community detection by deterministic synchronous label
    // propagation (min-label ties, self-loop damping, 4 fixed rounds)
    // over the SAME temporal co-occurrence graph as graph_triangles;
    // every update is an integer count argmax, so the oracle unrolls
    // the rounds as CTEs (the pagerank discipline) and the full
    // node→community assignment hash-matches cross-engine.
    Query("graph_communities", (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val adj = t(s, d, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
          col("user_id"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(least(col("user_id"), col("nxt")).as("u"),
          greatest(col("user_id"), col("nxt")).as("v"))
        .distinct()
      ops.GraphOps.labelPropagation(adj, "u", "v", iters = 4)
        .select(col("node"), col("label").as("community"))
        .orderBy(col("node"))
    }, Sql(lpaOracleSql(4)))
  )
}
