package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType


/** Helpers that two or more query modules share: table access, exact
  * decimal sums, the Knuth hash with its SQL mirror, and the SQL
  * spellings of the JVM's wrapping-integer and murmur arithmetic, the
  * MinHash, packing and drift CTEs that several oracles replay. A
  * helper that one module uses stays private to that module. */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** [[t]] for CPU-heavy per-row KERNEL consumers (shingle/md5 passes,
    * tokenizer encodes, codecs): size-gated fan-out so a scan whose
    * natural split count is below the core count (a single-row-group
    * file splits to ONE task no matter the split config) cannot
    * serialize the kernel — see [[ops.StorageOps.fanOutForKernel]]. At
    * scale the gate never fires and the plan is identical to [[t]].
    * Use ONLY where per-row compute dominates the scan: for shuffle- or
    * scan-bound queries the extra exchange is pure cost. */
  def tk(s: SparkSession, dir: String, name: String): DataFrame =
    ops.StorageOps.fanOutForKernel(Tables.load(s, dir, name))

  /** Exact, order-independent sum of a double column: route through
    * decimal so 100-TB shuffles cannot produce run-to-run float drift.
    * It executes on longs, not BigDecimal: [[graft.plans.DecimalSums]]
    * sums three 21-bit limbs of each row's unscaled long and rebuilds
    * the exact `decimal(28, scale)` once per group. When the cast sits
    * directly under the `Sum`, the rule converts each double straight
    * to that long, rounded as Spark's cast rounds; otherwise (a window
    * sum, or `dsum(when(…))` without `otherwise`) the limbs come from
    * `UnscaledValue` of Spark's own cast. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  def dsumSql(expr: String, scale: Int = 2): String =
    s"cast(sum(cast($expr as decimal(18,$scale))) as double)"

  /** Knuth multiplicative-hash bucket in [0, n): deterministic, no RNG
    * state, engine-portable (the SQL mirrors spell out the same
    * arithmetic), stable under repartitioning and corpus growth. ONE
    * definition — q_tvt_split / pipeline_mix / pipeline_full must
    * agree or split/sample assignment silently drifts between them
    * (the specs recompute it independently on purpose).
    *
    * Computed as (id mod 2^32) * 2654435761 mod 2^32 via a 16-bit
    * hi/lo split so no intermediate product exceeds ~2^48: the naive
    * `id * 2654435761` overflows signed 64-bit once id exceeds
    * ~3.46e9 and throws under ANSI mode — exactly the id range a
    * grown corpus reaches. The split form is bit-identical to the
    * naive formula for every id (hi*A*2^16 + lo*A ≡ x*A mod 2^32),
    * so existing split/sample assignments never move. */
  def knuthHash(c: Column): Column = {
    val x  = pmod(c.cast("long"), lit(4294967296L))
    val hi = shiftright(x, 16)               // x < 2^32 ⇒ plain >> is unsigned
    val lo = x.bitwiseAND(lit(65535L))
    pmod(lo * lit(2654435761L)
      + pmod(hi * lit(2654435761L), lit(65536L)) * lit(65536L),
      lit(4294967296L))
  }

  /** The same arithmetic as [[knuthHash]], spelled out for the DuckDB
    * oracle mirrors. Kept adjacent so the two definitions cannot
    * drift silently. SQL `%` keeps the dividend's sign while
    * [[knuthHash]] uses pmod, so the id reduction is double-modded to
    * stay non-negative for negative ids too (every later operand is
    * then non-negative, matching the Column form bit for bit). */
  def knuthHashSql(c: String): String = {
    val x = s"(($c % 4294967296 + 4294967296) % 4294967296)"
    s"((($x & 65535) * 2654435761 + " +
      s"((($x >> 16) * 2654435761) % 65536) * 65536) " +
      "% 4294967296)"
  }

  /** SQL text for `(x * k) mod 2^64` as SIGNED BIGINT, where `x` is a
    * signed-BIGINT expression and `k` a Java long constant — the
    * wrapping multiply of [[graft.functions.Hash64]], emulated through
    * HUGEINT with the multiplier split into 32-bit halves (a full
    * 64×64 product overflows INT128). */
  def sqlWrapMul(x: String, k: Long): String = {
    val ku = BigInt(k) & ((BigInt(1) << 64) - 1)
    val bh = ku >> 32
    val bl = ku & 0xffffffffL
    val m64 = "18446744073709551616::HUGEINT"
    val u = s"(CASE WHEN ($x) < 0 THEN ($x)::HUGEINT + $m64 " +
      s"ELSE ($x)::HUGEINT END)"
    val lo = s"(($u * ${bl}::HUGEINT) % $m64)"
    val hi = s"(((($u % 4294967296::HUGEINT) * ${bh}::HUGEINT) % " +
      "4294967296::HUGEINT) * 4294967296::HUGEINT)"
    val m = s"(($lo + $hi) % $m64)"
    s"(CASE WHEN $m >= 9223372036854775808::HUGEINT " +
      s"THEN ($m - $m64)::BIGINT ELSE $m::BIGINT END)"
  }

  /** SQL text for Java's `z >>> n` over a signed BIGINT expression. */
  def sqlUshr(z: String, n: Int): String =
    s"((($z) >> $n) & ${(BigInt(1) << (64 - n)) - 1})"

  /** SQL for `(x + y) mod 2^64` as signed BIGINT (y a small
    * non-negative expression) — the wrapping add of the hyperplane
    * seed derivation. */
  def sqlWrapAdd(x: String, y: String): String = {
    val m64 = "18446744073709551616::HUGEINT"
    val u = s"(CASE WHEN ($x) < 0 THEN ($x)::HUGEINT + $m64 " +
      s"ELSE ($x)::HUGEINT END)"
    val m = s"(($u + ($y)::HUGEINT) % $m64)"
    s"(CASE WHEN $m >= 9223372036854775808::HUGEINT " +
      s"THEN ($m - $m64)::BIGINT ELSE $m::BIGINT END)"
  }

  /** CTE block computing each embedding's `nbits`-bit hyperplane-LSH
    * signature exactly as [[graft.functions.SketchKernels
    * .hyperplaneBits]]: component (p,i) = splitmix64(p·GOLD + i)
    * mapped to [-1,1] (wrapping arithmetic via HUGEINT), dot products
    * accumulated in dimension order, bit set when dot >= 0. Ends with
    * `sigt(vec_id, sig)`; nbits <= 32 so the pack needs no sign
    * handling. */
  def hyperplaneSigCtes(nbits: Int): String = {
    val Gold = 0x9e3779b97f4a7c15L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val z0 = sqlWrapAdd(sqlWrapMul("p::BIGINT", Gold), "i")
    val mz1 = sqlWrapMul(s"xor(z, ${sqlUshr("z", 30)})", C1)
    val mz2 = sqlWrapMul(s"xor(z, ${sqlUshr("z", 27)})", C2)
    s"""hz AS (SELECT p, i, $z0 AS z
       |  FROM (SELECT unnest(generate_series(0, ${nbits - 1})) AS p),
       |       (SELECT unnest(generate_series(0, 63)) AS i)),
       |hm1 AS (SELECT p, i, $mz1 AS z FROM hz),
       |hm2 AS (SELECT p, i, $mz2 AS z FROM hm1),
       |wt AS (SELECT p, i,
       |  xor(z, ${sqlUshr("z", 31)})::DOUBLE /
       |    9223372036854775807::DOUBLE AS w FROM hm2),
       |wl AS (SELECT p, list(w ORDER BY i) AS ws FROM wt GROUP BY p),
       |dots AS (SELECT e.vec_id, wl.p,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> cast(e.embedding[i] as double) * wl.ws[i])) AS dp
       |  FROM embeddings e CROSS JOIN wl),
       |sigt AS (SELECT vec_id,
       |  cast(sum(CASE WHEN dp >= 0.0 THEN (1::BIGINT << p)
       |                ELSE 0 END) as BIGINT) AS sig
       |  FROM dots GROUP BY vec_id)""".stripMargin
  }

  /** 32-bit wrapping multiply mod 2^32 over unsigned-in-BIGINT values
    * (the Murmur3 building block) — split at 16 bits so no product
    * exceeds 2^48. */
  def sqlU32Mul(k: String, c: Long): String =
    s"(((($k) & 65535) * $c + (((($k) >> 16) & 65535) * $c % 65536) " +
      s"* 65536) & 4294967295)"

  def sqlRotl32(x: String, r: Int): String =
    s"(((($x) << $r) | (($x) >> ${32 - r})) & 4294967295)"

  /** Staged CTE columns computing Spark's Murmur3 `hashLong(l<e>,
    * prev)` — each intermediate is a named column so no sub-expression
    * duplicates (the nested spelling grows 8x per level). Returns the
    * (col, expr) stages; the final column is `h<e>`. */
  def murmurHashLongStages(e: Int,
      prev: String): Seq[(String, String)] = Seq(
    (s"lo$e", s"(l$e & 4294967295)"),
    (s"hi$e", s"((l$e >> 32) & 4294967295)"),
    (s"a1$e", sqlU32Mul(s"lo$e", 0xcc9e2d51L)),
    (s"a2$e", sqlRotl32(s"a1$e", 15)),
    (s"a3$e", sqlU32Mul(s"a2$e", 0x1b873593L)),
    (s"m1$e", s"xor($prev, a3$e)"),
    (s"m2$e", s"((${sqlRotl32(s"m1$e", 13)} * 5 + 3864292196) " +
      "& 4294967295)"),
    (s"c1$e", sqlU32Mul(s"hi$e", 0xcc9e2d51L)),
    (s"c2$e", sqlRotl32(s"c1$e", 15)),
    (s"c3$e", sqlU32Mul(s"c2$e", 0x1b873593L)),
    (s"m3$e", s"xor(m2$e, c3$e)"),
    (s"m4$e", s"((${sqlRotl32(s"m3$e", 13)} * 5 + 3864292196) " +
      "& 4294967295)"),
    (s"f1$e", s"xor(m4$e, 8)"),
    (s"f2$e", s"xor(f1$e, f1$e >> 16)"),
    (s"f3$e", sqlU32Mul(s"f2$e", 0x85ebca6bL)),
    (s"f4$e", s"xor(f3$e, f3$e >> 13)"),
    (s"f5$e", sqlU32Mul(s"f4$e", 0xc2b2ae35L)),
    (s"h$e", s"xor(f5$e, f5$e >> 16)"))

  /** The minhash-LSH candidate+verify FRONT as shared CTEs (the
    * production xxhash-free spelling: FNV window hashes with the 0x1f
    * token separator, 64 affine-xor lanes through splitmix64, 16
    * four-lane bands keyed by Spark's Murmur3 over the lane longs —
    * validated against `hash()` ground truth — 2..1000 bucket pair
    * expansion, exact shingle-hash Jaccard). Ends with
    * `jac(a, b, j)` plus `docs_all(doc_id)`. */
  def minhashFrontCtes(src: String = "documents"): String = {
    val FnvPrime = 0x100000001b3L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val stepH = sqlWrapMul(
      "xor(r2.h, ('0x' || substr(r2.ghx, 2*r2.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    // per-lane xor constants, wrapped with JVM Long arithmetic
    val laneRows = (0 until 64)
      .map(l => s"($l, ${l.toLong * 0xff51afd7ed558ccdL}::BIGINT)")
      .mkString(", ")
    val lmix1 = sqlWrapMul(s"xor(z, ${sqlUshr("z", 30)})", C1)
    val lmix2 = sqlWrapMul(s"xor(z, ${sqlUshr("z", 27)})", C2)
    // murmur over the 4 lane longs of each band, staged
    val stages = (1 to 4).foldLeft(
      (Seq.empty[(String, String)], "(42::BIGINT)")) {
        case ((acc, prev), e) =>
          (acc ++ murmurHashLongStages(e, prev), s"h$e")
      }._1
    val murmurCtes = stages.zipWithIndex.map { case ((col, expr), i) =>
      val src = if (i == 0) "slices" else s"mm${i - 1}"
      s"mm$i AS (SELECT *, $expr AS $col FROM $src)"
    }.mkString(",\n")
    val lastMm = s"mm${stages.length - 1}"
    s"""tkw AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |        FROM $src),
       |wins AS (SELECT doc_id,
       |    CASE WHEN len(w) <= 3
       |      THEN [list_aggregate(list_transform(w,
       |             t -> t || chr(31)), 'string_agg', '')]
       |      ELSE list_transform(generate_series(1, len(w) - 2),
       |             p -> w[p] || chr(31) || w[p+1] || chr(31) ||
       |                  w[p+2] || chr(31)) END AS ss
       |  FROM tkw),
       |gpos AS (SELECT doc_id, unnest(ss) AS ghs FROM wins),
       |gset AS (SELECT ghs, hex(encode(ghs)) AS ghx,
       |           octet_length(encode(ghs)) AS len
       |         FROM (SELECT DISTINCT ghs FROM gpos)),
       |rec(ghs, ghx, pos, h) AS (
       |  SELECT ghs, ghx, 0, (-3750763034362895579)::BIGINT FROM gset
       |  UNION ALL
       |  SELECT r2.ghs, r2.ghx, r2.pos + 1, $stepH
       |  FROM rec r2 WHERE 2*r2.pos < length(r2.ghx)),
       |fin AS (SELECT ghs, h FROM rec WHERE 2*pos = length(ghx)),
       |fm1 AS (SELECT ghs, $mix1 AS h FROM fin),
       |fm2 AS (SELECT ghs, $mix2 AS h FROM fm1),
       |gh AS MATERIALIZED (SELECT ghs, xor(h, ${sqlUshr("h", 31)}) AS h FROM fm2),
       |docg AS MATERIALIZED (SELECT DISTINCT g.doc_id, gh.h
       |         FROM gpos g JOIN gh ON gh.ghs = g.ghs),
       |lv AS (SELECT * FROM (VALUES $laneRows) t(lane, lc)),
       |lz AS (SELECT dh.h AS bh, lv.lane, xor(dh.h, lv.lc) AS z
       |  FROM (SELECT DISTINCT h FROM docg) dh CROSS JOIN lv),
       |lm1 AS (SELECT bh, lane, $lmix1 AS z FROM lz),
       |lm2 AS (SELECT bh, lane, $lmix2 AS z FROM lm1),
       |lmx AS MATERIALIZED (SELECT bh, lane, xor(z, ${sqlUshr("z", 31)}) AS m
       |        FROM lm2),
       |sigl AS MATERIALIZED (SELECT d.doc_id, list(mn ORDER BY lane) AS sig
       |  FROM (SELECT docg.doc_id, lmx.lane, min(lmx.m) AS mn
       |        FROM docg JOIN lmx ON lmx.bh = docg.h
       |        GROUP BY docg.doc_id, lmx.lane) d
       |  GROUP BY d.doc_id),
       |slices AS (SELECT doc_id, bb AS band_id,
       |    sig[bb*4+1] AS l1, sig[bb*4+2] AS l2,
       |    sig[bb*4+3] AS l3, sig[bb*4+4] AS l4
       |  FROM sigl, LATERAL unnest(generate_series(0, 15)) t(bb)),
       |$murmurCtes,
       |band AS MATERIALIZED (SELECT doc_id, band_id, h4 AS band_val FROM $lastMm),
       |okb AS (SELECT band_id, band_val FROM band
       |        GROUP BY band_id, band_val
       |        HAVING count(*) BETWEEN 2 AND 1000),
       |pairs AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id
       |  JOIN okb ON okb.band_id = x.band_id
       |          AND okb.band_val = x.band_val),
       |fullg AS MATERIALIZED (SELECT doc_id, list(h ORDER BY h) AS gs
       |          FROM docg GROUP BY doc_id),
       |jac AS MATERIALIZED (SELECT p.a, p.b,
       |    len(list_intersect(ga.gs, gb.gs))::DOUBLE /
       |    (len(ga.gs) + len(gb.gs) -
       |     len(list_intersect(ga.gs, gb.gs))) AS j
       |  FROM pairs p JOIN fullg ga ON ga.doc_id = p.a
       |              JOIN fullg gb ON gb.doc_id = p.b),
       |docs_all AS (SELECT doc_id FROM $src)""".stripMargin
  }

  /** Shared CTE chain for the GLOBAL packing oracles: the
    * [[bpeEncodeOracleSql]] merge recursion reduces each distinct
    * word type to its piece COUNT, per-doc token counts re-assemble
    * by word multiplicity (+1 end-of-doc separator; a doc with no
    * pre-tokenizer matches keeps the bare separator via the LEFT
    * JOIN), and the exclusive global prefix sum over doc_id order is
    * one window cumsum — DuckDB may run it single-threaded; the Spark
    * side must NOT (that is exactly what
    * [[graft.ops.PackOps.withGlobalOffset]] exists to avoid). */
  lazy val packCtes: String =
    """words AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest(regexp_extract_all(text,
      |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+')) AS w
      |    FROM documents)),
      |rec(w, syms) AS (
      |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i])
      |  FROM words
      |  UNION ALL
      |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
      |  FROM (
      |    SELECT w, syms, list_position(pr, list_min(pr)) AS bi,
      |      list_min(pr) AS br
      |    FROM (
      |      SELECT w, syms,
      |        list_transform(range(1, len(syms)), i ->
      |          coalesce(({{BPE_RANK_MAP}}[syms[i] || ' ' ||
      |            syms[i+1]])[1], 1000000)) AS pr
      |      FROM rec WHERE len(syms) >= 2) t) u
      |  WHERE br < 1000000),
      |fin AS (
      |  SELECT w, len(syms) AS np FROM (
      |    SELECT w, syms,
      |      row_number() OVER (PARTITION BY w ORDER BY len(syms)) AS rn
      |    FROM rec) WHERE rn = 1),
      |dw AS (
      |  SELECT doc_id, regexp_extract_all(text,
      |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+') AS ws
      |  FROM documents),
      |seq AS (
      |  SELECT doc_id, unnest(ws) AS w FROM dw),
      |dtok AS (
      |  SELECT s.doc_id, cast(sum(f.np) AS BIGINT) AS nt
      |  FROM seq s JOIN fin f USING (w) GROUP BY s.doc_id),
      |alld AS (
      |  SELECT d.doc_id, cast(coalesce(dt.nt, 0) + 1 AS BIGINT) AS n_tok
      |  FROM dw d LEFT JOIN dtok dt USING (doc_id)),
      |offs AS (
      |  SELECT doc_id, n_tok,
      |    cast(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS tok_start
      |  FROM alld),
      |spans AS (
      |  SELECT doc_id, n_tok, tok_start,
      |    tok_start // 128 AS first_block,
      |    (tok_start + n_tok - 1) // 128 AS last_block,
      |    tok_start % 128 AS start_off
      |  FROM offs)""".stripMargin

  /** The drift CTE chain + final select over a caller-provided
    * `docsrc(grp, text)` CTE — shared verbatim by the per-source
    * audit ([[tokenizerDriftOracleSql]]) and the per-batch accepted-
    * text audit of the ingest loop ([[ingestDriftOracleSql]]); the
    * group column is emitted as `outCol`. */
  def driftMachineryTail(outCol: String): String =
    s"""base AS (
      |  SELECT grp, count(*) AS n_docs,
      |    cast(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words
      |  FROM docsrc GROUP BY grp),
      |swords AS (
      |  SELECT grp, w, count(*) AS n FROM (
      |    SELECT grp, unnest(regexp_extract_all(text,
      |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]+')) AS w
      |    FROM docsrc)
      |  GROUP BY grp, w),
      |words AS (SELECT DISTINCT w FROM swords),
      |brec(w, syms) AS (
      |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i])
      |  FROM words
      |  UNION ALL
      |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
      |  FROM (
      |    SELECT w, syms, list_position(pr, list_min(pr)) AS bi,
      |      list_min(pr) AS br
      |    FROM (SELECT w, syms,
      |        list_transform(range(1, len(syms)), i ->
      |          coalesce(({{BPE_RANK_MAP}}[syms[i] || ' ' ||
      |            syms[i+1]])[1], 1000000)) AS pr
      |      FROM brec WHERE len(syms) >= 2) t) u
      |  WHERE br < 1000000),
      |bfin AS (
      |  SELECT w, len(syms) AS np FROM (
      |    SELECT w, syms,
      |      row_number() OVER (PARTITION BY w ORDER BY len(syms)) AS rn
      |    FROM brec) WHERE rn = 1),
      |v(p) AS (SELECT * FROM (VALUES
      |    {{WP_VOCAB_ROWS}}) t(p)),
      |wrec(w, pos, piece) AS (
      |  SELECT w, 1, NULL::VARCHAR FROM words WHERE length(w) <= 100
      |  UNION ALL
      |  SELECT r.w,
      |    r.pos + CASE WHEN r.pos = 1 THEN length(v.p)
      |                 ELSE length(v.p) - 2 END,
      |    v.p
      |  FROM wrec r JOIN v ON
      |    CASE WHEN r.pos = 1
      |      THEN v.p NOT LIKE '##%'
      |        AND substr(r.w, 1, length(v.p)) = v.p
      |      ELSE v.p LIKE '##%' AND length(v.p) > 2
      |        AND substr(r.w, r.pos, length(v.p) - 2) = substr(v.p, 3)
      |    END
      |  WHERE r.pos <= length(r.w)
      |  QUALIFY row_number() OVER (PARTITION BY r.w, r.pos
      |    ORDER BY length(v.p) DESC) = 1),
      |wprog AS (SELECT w, max(pos) AS mp FROM wrec GROUP BY w),
      |wenc AS (
      |  SELECT r.w, count(*) AS np, 0 AS unk
      |  FROM wrec r JOIN wprog g USING (w)
      |  WHERE r.piece IS NOT NULL AND g.mp = length(r.w) + 1
      |  GROUP BY r.w),
      |wcnt AS (
      |  SELECT w, np, unk FROM wenc
      |  UNION ALL SELECT w, 1, 1 FROM wprog WHERE mp <= length(w)
      |  UNION ALL SELECT w, 1, 1 FROM words WHERE length(w) > 100),
      |persrc AS (
      |  SELECT s.grp,
      |    cast(sum(b.np * s.n) AS BIGINT) AS n_bpe_pieces,
      |    cast(sum(c.np * s.n) AS BIGINT) AS n_wp_pieces,
      |    cast(sum(c.unk * s.n) AS BIGINT) AS n_unk
      |  FROM swords s JOIN bfin b USING (w) JOIN wcnt c USING (w)
      |  GROUP BY s.grp)
      |SELECT b.grp AS $outCol, b.n_docs, b.n_words, p.n_bpe_pieces,
      |  p.n_wp_pieces, p.n_unk,
      |  round(p.n_unk / cast(p.n_wp_pieces AS DOUBLE), 6) AS unk_rate,
      |  round(p.n_bpe_pieces / cast(b.n_words AS DOUBLE), 4)
      |    AS bpe_fertility
      |FROM base b JOIN persrc p USING (grp)
      |ORDER BY b.grp""".stripMargin

  /** DuckDB mirror of the quality-classifier SCORING pass: the
    * q_gopher_quality feature arithmetic, z as the same left-assoc
    * multiply-add chain over the embedded beta, clf_pass via the same
    * round-to-6dp sigmoid threshold (p >= 0.5 <=> z >= 0 — the
    * rounding only matters within 5e-7 of the boundary). */
  /** The `m`/`f` feature CTEs shared by [[qcOracleSql]] and
    * [[curriculumOracleSql]] — byte-identical featurization so both
    * replay the same classifier inputs. */
  lazy val qcFeatureCtes: String =
    """m AS (
      |  SELECT doc_id, lang,
      |    cast(len(string_split(text, ' ')) as bigint) AS n_words,
      |    round(cast(list_aggregate(list_transform(
      |        string_split(text, ' '), w -> length(w)), 'sum')
      |        as double) / len(string_split(text, ' ')), 4)
      |      AS mean_word_len,
      |    round(cast(len(list_filter(string_split(text, ' '),
      |        w -> regexp_matches(w, '[A-Za-z]'))) as double)
      |        / len(string_split(text, ' ')), 4) AS alpha_ratio,
      |    round(cast(len(regexp_extract_all(text, '#|\.\.\.'))
      |        as double) / len(string_split(text, ' ')), 4)
      |      AS symbol_ratio,
      |    cast(len(regexp_extract_all(text, '\b(the|a)\b')) as bigint)
      |      AS stop_cnt
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, lang,
      |    1.0 AS f0,
      |    round(ln(1 + cast(n_words as double)), 6) AS f1,
      |    coalesce(mean_word_len, 0.0) AS f2,
      |    coalesce(alpha_ratio, 0.0) AS f3,
      |    coalesce(symbol_ratio, 0.0) AS f4,
      |    round(ln(1 + cast(stop_cnt as double)), 6) AS f5,
      |    cast((n_words BETWEEN 10 AND 100000)
      |      AND (mean_word_len BETWEEN 2.0 AND 12.0)
      |      AND alpha_ratio >= 0.6 AND symbol_ratio <= 0.1
      |      AND stop_cnt >= 1 as bigint) AS label
      |  FROM m)""".stripMargin

  /** The unrolled per-round PageRank CTEs — shared by every replay
    * that runs the standard (uniform-teleport, dangling-free) update
    * over an edge CTE named `e` with `nodes`/`deg`/`params`/`r0`
    * defined by the caller. */
  def pagerankRoundsSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    (SELECT base FROM params) +
         |      (85 * coalesce(c.contrib, 0)) // 100 AS rank_f
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(s.share) AS BIGINT) AS contrib
         |    FROM e JOIN (
         |      SELECT r.node, r.rank_f // d.deg AS share
         |      FROM r${i - 1} r JOIN deg d USING (node)) s
         |      ON e.src = s.node
         |    GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
}
