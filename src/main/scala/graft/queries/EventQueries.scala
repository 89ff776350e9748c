package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{BpeOps, TextOps}

import Shared._

/** Events (timestamped stream table, batch view). */
object EventQueries {

  private def knuthBucket(c: Column, n: Int): Column =
    pmod(knuthHash(c), lit(n))

  /** Shared front of the curation pipeline: score + fingerprint +
    * language-id, then the quality gate. Gate FIRST, then dedup among
    * survivors — the other order lets a low-quality duplicate with the
    * lowest doc_id knock out every higher-quality copy of the same
    * content. */
  private def curateSurvivors(s: SparkSession, d: String): DataFrame =
    TextOps.quality(t(s, d, "documents"), col("text"), col("n_chars"))
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("pred_lang", TextOps.langId(col("text")))
      .filter(col("quality_score") >= 0.3)

  /** The quality-curriculum block schedule shared by
    * `pipeline_curriculum` (which emits it directly) and
    * `pipeline_curriculum_anneal` (which uses its rank as epoch 0):
    * packed 128-token blocks scored by the token-weighted trained
    * classifier probability (micro-quantized so everything after the
    * classifier's round-to-6dp is integer arithmetic) and ranked
    * (score DESC, block ASC) via a fixed-width-key withGlobalOffset —
    * no global window. Columns: block_id, fill, score_micro,
    * cur_rank (unordered). */
  private def curriculumBlocks(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
      col("text"), numMerges = 64)
    val manifest = docs.select(col("doc_id"),
      (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
        .as("n_tok"))
    val contrib = ops.PackOps.blockContributions(
      ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", 128L),
      "tok_start", "n_tok", 128L)
      .select(col("doc_id"), col("block_id"), col("block_tokens"))
    val feats = graft.ops.QualityClassifierOps
      .featurize(docs, col("text")).localCheckpoint()
    // consumer of the classifier, not its trainer: the persisted
    // beta artifact (bit-identical to a fresh IRLS run — see
    // cachedTrain scaladoc) skips the 8 training scans here while
    // pipeline_quality_classifier keeps exercising the full path
    val beta = graft.ops.QualityClassifierOps.cachedTrain(s,
      s"$d/documents.parquet", feats)
    val scores = feats.select(col("doc_id"),
      round(round(graft.ops.QualityClassifierOps.score(beta), 6)
        * 1e6).cast("long").as("p_micro"))
    val blocks = contrib.join(scores, Seq("doc_id"))
      .groupBy(col("block_id"))
      .agg(sum(col("block_tokens")).as("fill"),
        sum(col("block_tokens") * col("p_micro")).as("wsum"))
      .withColumn("score_micro",
        ops.DedupOps.idiv(col("wsum") * 128L, col("fill")))
    // fixed-width ascending key == (score DESC, block_id ASC):
    // score_micro <= 1.28e8 < 2e8, so the complement stays 9 digits
    val key = concat(
      lpad((lit(200000000L) - col("score_micro")).cast("string"),
        9, "0"),
      lpad(col("block_id").cast("string"), 20, "0"))
    ops.PackOps.withGlobalOffset(
      blocks.withColumn("__ord", key).withColumn("__one", lit(1L)),
      "__ord", "__one", "cur_rank")
      .select(col("block_id"), col("fill"), col("score_micro"),
        col("cur_rank"))
  }

  // ---- the ingest family ---------------------------------------------
  // `documents` splits into a stored corpus (doc_id % 5 != 0) and
  // arriving docs; stage 4 decontaminates against the corpus's eval
  // slice (doc_id % 50 == 1).

  private def ingestCorpus(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)

  private def ingestEvalGrams(corpus: DataFrame): DataFrame =
    ops.IngestOps.gramSet(
      corpus.filter(pmod(col("doc_id"), lit(50)) === 1), "text")

  /** Per-stage accounting of one gated batch: survivors and their id
    * sum after each stage — the rows the ingest oracle replays. */
  private def ingestReport(incoming: DataFrame,
      st: ops.IngestOps.IngestStages): DataFrame =
    Seq("0_incoming" -> incoming, "1_exact" -> st.s1,
        "2_segments" -> st.s2, "3_quality" -> st.s3, "4_decon" -> st.s4)
      .map { case (name, df) => df
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
        .select(lit(name).as("stage"), col("n_docs"), col("id_sum"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))

  /** One run of an ingest-loop query: the corpus's eval-gram set,
    * pinned once (the loop joins it every batch; a lazy set would be
    * re-derived from corpus text per batch), a run-private clone of
    * the once-per-corpus cached inventory (the loop merges into its
    * inventory, so each run pays a hash-file directory copy instead of
    * a corpus re-derivation), and the frozen tokenizer models (cached
    * per source bytes). */
  private final class IngestLoopRun(s: SparkSession, d: String,
      prefix: String) {
    private val src = s"$d/documents.parquet"
    val docs: DataFrame = t(s, d, "documents")
    private val corpus = ingestCorpus(docs)
    val evalGrams: DataFrame = ingestEvalGrams(corpus).localCheckpoint(true)
    val run: String = java.util.UUID.randomUUID().toString.take(12)
    val key: String = s"${prefix}_$run"
    ops.IngestOps.cloneInventory(ops.IngestOps.cachedInventory(s, src,
      "ingsbase", corpus, "text"), key)
    lazy val wp: graft.functions.WordPieceModel =
      ops.WordPieceOps.cachedTrain(s, src, docs, col("text"), numMerges = 64)
    lazy val bpe: graft.functions.BpeModel =
      BpeOps.cachedTrain(s, src, docs, col("text"), numMerges = 64)

    /** The two arriving batches in order. b1 re-delivers half of b0
      * (doc_id % 20 == 0), the at-least-once reality of any ingest
      * feed, so some b1 docs die against b0's merges. */
    def arrivals: Seq[(String, DataFrame)] = Seq(
      "b0" -> docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "b1" -> docs.filter(pmod(col("doc_id"), lit(10)) === 5 ||
        pmod(col("doc_id"), lit(20)) === 0))
  }

  // The incremental-ingest composition replayed stage by stage:
  // exact dedup (row_number first-wins + corpus md5 set), segment
  // excision against the corpus segment inventory, cleaned-text
  // quality band in integer rational arithmetic, n-gram decon of
  // the cleaned text — per-stage counts and id sums all certified.
  // Shared by pipeline_ingest (full recompute) and
  // pipeline_ingest_incr (persisted-inventory flow) — the two are
  // result-identical by construction.
  private lazy val ingestOracleSql: String =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |inc AS (SELECT doc_id, text FROM documents
        |        WHERE doc_id % 5 = 0),
        |s1 AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, md5(text) AS h,
        |      row_number() OVER (PARTITION BY md5(text)
        |                         ORDER BY doc_id) AS rn
        |    FROM inc) i
        |  WHERE rn = 1
        |    AND h NOT IN (SELECT DISTINCT md5(text) FROM corpus)),
        |cw AS (SELECT string_split(lower(text), ' ') AS w FROM corpus),
        |cseg AS (SELECT DISTINCT
        |  md5(array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ')) AS sh
        |  FROM cw, LATERAL unnest(generate_series(1, (len(w)+15)//16))
        |    s(i)),
        |sw AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |       FROM s1),
        |srows AS (SELECT doc_id, i - 1 AS seg_idx,
        |  array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ') AS seg
        |  FROM sw, LATERAL unnest(generate_series(1, (len(w)+15)//16))
        |    s(i)),
        |kept AS (SELECT doc_id, seg_idx, seg FROM srows
        |         WHERE md5(seg) NOT IN (SELECT sh FROM cseg)),
        |s2 AS (SELECT doc_id,
        |         string_agg(seg, ' ' ORDER BY seg_idx) AS clean
        |       FROM kept GROUP BY doc_id
        |       HAVING string_agg(seg, ' ' ORDER BY seg_idx) <> ''),
        |s3 AS (SELECT doc_id, clean FROM (
        |  SELECT doc_id, clean,
        |    len(string_split(clean, ' ')) AS n_tok,
        |    len(replace(clean, ' ', '')) AS n_ch FROM s2)
        |  WHERE n_tok >= 24 AND n_ch * 10 >= n_tok * 20
        |    AND n_ch * 10 <= n_tok * 100),
        |ev AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w) - 2),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |    ELSE [array_to_string(w, ' ')] END)) AS g
        |  FROM (SELECT string_split(lower(text), ' ') AS w FROM corpus
        |        WHERE doc_id % 50 = 1))),
        |hot AS (SELECT doc_id FROM (
        |  SELECT sg.doc_id, count(*) AS n_shared FROM (
        |    SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END)) AS g
        |    FROM (SELECT doc_id, string_split(lower(clean), ' ') AS w
        |          FROM s3)) sg
        |  JOIN ev USING (g) GROUP BY sg.doc_id)
        |  WHERE n_shared >= 3),
        |s4 AS (SELECT doc_id FROM s3
        |       WHERE doc_id NOT IN (SELECT doc_id FROM hot))
        |SELECT * FROM (
        |  SELECT '0_incoming' AS stage, count(*) AS n_docs,
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) AS id_sum FROM inc
        |  UNION ALL SELECT '1_exact', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s1
        |  UNION ALL SELECT '2_segments', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s2
        |  UNION ALL SELECT '3_quality', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s3
        |  UNION ALL SELECT '4_decon', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s4)
        |ORDER BY stage""".stripMargin

  /** One arriving batch of the streaming ingest loop, unrolled: the
    * four `pipeline_ingest` stages with the stage-1 md5 anti-join and
    * stage-2 segment excision pointed at the INVENTORY STATE the
    * previous merges left behind (`md5Inv`/`segInv` CTE names). CTE
    * names are suffixed so two batches chain in one WITH clause. */
  private def ingestStreamBatchCtes(sfx: String, incPred: String,
      md5Inv: String, segInv: String): String =
    s"""inc_$sfx AS (SELECT doc_id, text FROM documents WHERE $incPred),
       |s1_$sfx AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, md5(text) AS h,
       |      row_number() OVER (PARTITION BY md5(text)
       |                         ORDER BY doc_id) AS rn
       |    FROM inc_$sfx) i
       |  WHERE rn = 1 AND h NOT IN (SELECT h FROM $md5Inv)),
       |sw_$sfx AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |            FROM s1_$sfx),
       |srows_$sfx AS (SELECT doc_id, i - 1 AS seg_idx,
       |  array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ') AS seg
       |  FROM sw_$sfx,
       |    LATERAL unnest(generate_series(1, (len(w)+15)//16)) s(i)),
       |kept_$sfx AS (SELECT doc_id, seg_idx, seg FROM srows_$sfx
       |  WHERE md5(seg) NOT IN (SELECT sh FROM $segInv)),
       |s2_$sfx AS (SELECT doc_id,
       |    string_agg(seg, ' ' ORDER BY seg_idx) AS clean
       |  FROM kept_$sfx GROUP BY doc_id
       |  HAVING string_agg(seg, ' ' ORDER BY seg_idx) <> ''),
       |s3_$sfx AS (SELECT doc_id, clean FROM (
       |  SELECT doc_id, clean,
       |    len(string_split(clean, ' ')) AS n_tok,
       |    len(replace(clean, ' ', '')) AS n_ch FROM s2_$sfx)
       |  WHERE n_tok >= 24 AND n_ch * 10 >= n_tok * 20
       |    AND n_ch * 10 <= n_tok * 100),
       |hot_$sfx AS (SELECT doc_id FROM (
       |  SELECT sg.doc_id, count(*) AS n_shared FROM (
       |    SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
       |      THEN list_transform(generate_series(1, len(w) - 2),
       |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |      ELSE [array_to_string(w, ' ')] END)) AS g
       |    FROM (SELECT doc_id, string_split(lower(clean), ' ') AS w
       |          FROM s3_$sfx)) sg
       |  JOIN ev USING (g) GROUP BY sg.doc_id)
       |  WHERE n_shared >= 3),
       |s4_$sfx AS (SELECT doc_id, clean FROM s3_$sfx
       |  WHERE doc_id NOT IN (SELECT doc_id FROM hot_$sfx))"""
      .stripMargin

  private def ingestStreamStageRows(tag: String, sfx: String): String =
    s"""SELECT '$tag' AS batch, '0_incoming' AS stage,
       |    count(*) AS n_docs,
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) AS id_sum
       |  FROM inc_$sfx
       |  UNION ALL SELECT '$tag', '1_exact', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s1_$sfx
       |  UNION ALL SELECT '$tag', '2_segments', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s2_$sfx
       |  UNION ALL SELECT '$tag', '3_quality', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s3_$sfx
       |  UNION ALL SELECT '$tag', '4_decon', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s4_$sfx"""
      .stripMargin

  /** The streaming ingest LOOP replayed end-to-end: batch b0's four
    * stages run against the corpus-built inventories, its accepted
    * clean texts merge in (md5s + re-tiled 16-token segment hashes —
    * exactly [[graft.ops.IngestOps.mergeAccepted]]), and batch b1's
    * stages run against the MERGED state. Certifies the composition
    * (gate → merge → gate), not just the stages in isolation. The CTE
    * prefix is shared with [[ingestDriftOracleSql]], which appends the
    * tokenizer-drift machinery over the per-batch ACCEPTED text. */
  private lazy val ingestStreamCtes: String =
    s"""corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
       |inv_md5_0 AS (SELECT DISTINCT md5(text) AS h FROM corpus),
       |cw AS (SELECT string_split(lower(text), ' ') AS w FROM corpus),
       |inv_seg_0 AS (SELECT DISTINCT
       |  md5(array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ')) AS sh
       |  FROM cw,
       |    LATERAL unnest(generate_series(1, (len(w)+15)//16)) s(i)),
       |ev AS (SELECT DISTINCT g FROM (
       |  SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
       |    THEN list_transform(generate_series(1, len(w) - 2),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END)) AS g
       |  FROM (SELECT string_split(lower(text), ' ') AS w FROM corpus
       |        WHERE doc_id % 50 = 1))),
       |${ingestStreamBatchCtes("a", "doc_id % 10 = 0",
           "inv_md5_0", "inv_seg_0")},
       |-- merge of batch b0's ACCEPTED clean texts: md5s plus the
       |-- re-tiled 16-token segment hashes (IngestOps.mergeAccepted)
       |inv_md5_1 AS (SELECT h FROM inv_md5_0
       |  UNION SELECT md5(clean) FROM s4_a),
       |aw AS (SELECT string_split(lower(clean), ' ') AS w FROM s4_a),
       |inv_seg_1 AS (SELECT sh FROM inv_seg_0 UNION
       |  SELECT DISTINCT
       |    md5(array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ')) AS sh
       |  FROM aw,
       |    LATERAL unnest(generate_series(1, (len(w)+15)//16)) s(i)),
       |${ingestStreamBatchCtes("b",
           "doc_id % 10 = 5 OR doc_id % 20 = 0",
           "inv_md5_1", "inv_seg_1")}""".stripMargin

  private lazy val ingestStreamOracleSql: String =
    s"""WITH $ingestStreamCtes
       |SELECT * FROM (
       |  ${ingestStreamStageRows("b0", "a")}
       |  UNION ALL ${ingestStreamStageRows("b1", "b")})
       |ORDER BY batch, stage""".stripMargin

  /** DuckDB mirror of the near-dup curation pipeline: the
    * pipeline_curate scored CTE (verbatim arithmetic, plus the text
    * column), the minhash front over its survivors, 0.8 edges, the
    * unrolled min-propagation fixpoint, keep = component minimum, and
    * the attribute join back to the scored rows. */
  private lazy val curateNeardupOracleSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(min(n.lbl), l.lbl))
         |    AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN adj ad ON ad.src = l.node
         |  LEFT JOIN l${i - 1} n ON n.node = ad.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE scored AS (
       |  SELECT doc_id, text,
       |    ${TextOps.sql.tokenCount} AS n_tokens,
       |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
       |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
       |                  as double)
       |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
       |    CASE WHEN ${TextOps.sql.patCount(TextOps.sql.zh)} > 0 THEN 'zh'
       |         WHEN ${TextOps.sql.patCount(TextOps.sql.en)} >=
       |              greatest(${TextOps.sql.patCount(TextOps.sql.fr)},
       |                ${TextOps.sql.patCount(TextOps.sql.es)},
       |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'en'
       |         WHEN ${TextOps.sql.patCount(TextOps.sql.fr)} >=
       |              greatest(${TextOps.sql.patCount(TextOps.sql.es)},
       |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'fr'
       |         WHEN ${TextOps.sql.patCount(TextOps.sql.es)} >=
       |              ${TextOps.sql.patCount(TextOps.sql.de)} THEN 'es'
       |         ELSE 'de' END AS pred_lang
       |  FROM documents),
       |cdocs AS MATERIALIZED (SELECT doc_id, text FROM scored
       |        WHERE quality_score >= 0.3),
       |${minhashFrontCtes("cdocs")},
       |edges AS MATERIALIZED (SELECT a, b FROM jac WHERE j >= 0.8),
       |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
       |        UNION SELECT b AS src, a AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl
       |        FROM cdocs),
       |$rounds
       |SELECT s.doc_id, s.pred_lang, s.n_tokens, s.quality_score
       |FROM l8 JOIN scored s ON s.doc_id = l8.node
       |WHERE l8.node = l8.lbl
       |ORDER BY s.doc_id""".stripMargin
  }

  /** DuckDB replay of BPE chunking: the [[bpeEncodeOracleSql]]
    * recursion encodes distinct word types, each document's ordered
    * word sequence flattens back through it (ORDER BY word ordinal),
    * and 64-token slices hash exactly as the Spark side's
    * md5(array_join(slice)). Zero-token documents keep their one
    * empty chunk via the LEFT JOIN + greatest(1, ...). */
  private lazy val chunkBpeOracleSql: String =
    """WITH RECURSIVE words AS (
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
      |  SELECT w, syms FROM (
      |    SELECT w, syms,
      |      row_number() OVER (PARTITION BY w ORDER BY len(syms)) AS rn
      |    FROM rec) WHERE rn = 1),
      |dw AS (
      |  SELECT doc_id, regexp_extract_all(text,
      |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+') AS ws
      |  FROM documents),
      |seq AS (
      |  SELECT doc_id, unnest(range(1, len(ws)+1)) AS ord,
      |    unnest(ws) AS w FROM dw),
      |docseq AS (
      |  SELECT s.doc_id, flatten(list(f.syms ORDER BY s.ord)) AS toks
      |  FROM seq s JOIN fin f USING (w) GROUP BY s.doc_id),
      |alldocs AS (
      |  SELECT d.doc_id, coalesce(ds.toks, []) AS toks
      |  FROM dw d LEFT JOIN docseq ds USING (doc_id)),
      |chunks AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, greatest(1,
      |      cast(ceil(len(toks) / 64.0) AS BIGINT)))) AS chunk_id
      |  FROM alldocs)
      |SELECT doc_id, chunk_id,
      |  cast(len(toks[chunk_id*64+1 : chunk_id*64+64]) AS BIGINT)
      |    AS n_subwords,
      |  md5(array_to_string(toks[chunk_id*64+1 : chunk_id*64+64], ' '))
      |    AS chunk_md5
      |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin

  /** Pack-export replay: the [[chunkBpeOracleSql]] per-doc ordered
    * piece streams (merge recursion + in-doc flatten), the '</d>'
    * sentinel appended per doc, the doc_id-order window cumsum for
    * stream offsets, and each 128-token block's md5 over its
    * space-joined pieces in stream order. Must reproduce every
    * block hash or the content reconstruction diverged. */
  private lazy val packExportOracleSql: String =
    """WITH RECURSIVE words AS (
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
      |  SELECT w, syms FROM (
      |    SELECT w, syms,
      |      row_number() OVER (PARTITION BY w ORDER BY len(syms)) AS rn
      |    FROM rec) WHERE rn = 1),
      |dw AS (
      |  SELECT doc_id, regexp_extract_all(text,
      |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+') AS ws
      |  FROM documents),
      |seq AS (
      |  SELECT doc_id, unnest(range(1, len(ws)+1)) AS ord,
      |    unnest(ws) AS w FROM dw),
      |docseq AS (
      |  SELECT s.doc_id, flatten(list(f.syms ORDER BY s.ord)) AS toks
      |  FROM seq s JOIN fin f USING (w) GROUP BY s.doc_id),
      |dtoks AS (
      |  SELECT d.doc_id, coalesce(ds.toks, []) || ['</d>'] AS toks
      |  FROM dw d LEFT JOIN docseq ds USING (doc_id)),
      |offs AS (
      |  SELECT doc_id, toks,
      |    cast(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS tok_start
      |  FROM dtoks),
      |pieces AS (
      |  SELECT tok_start + g.i - 1 AS gpos, toks[g.i] AS piece
      |  FROM offs, LATERAL unnest(generate_series(1, len(toks))) g(i)),
      |blocks AS (
      |  SELECT gpos // 128 AS block_id, count(*) AS n_pieces,
      |    md5(string_agg(piece, ' ' ORDER BY gpos)) AS block_md5
      |  FROM pieces GROUP BY gpos // 128)
      |SELECT cast(block_id AS BIGINT) AS block_id,
      |  cast(n_pieces AS BIGINT) AS n_pieces, block_md5
      |FROM blocks ORDER BY block_id""".stripMargin

  /** FIM span-manifest replay: [[packCtes]]'s `alld` carries the
    * trained-BPE token count (+1 separator, subtracted back here —
    * the FIM transform splits CONTENT tokens only), and the three
    * Knuth lanes (coin, u, v) are the verbatim hash arithmetic over
    * 4·doc_id + k. Unused trailing CTEs of the shared chain are never
    * evaluated by DuckDB. */
  private lazy val fimSpansOracleSql: String = {
    val coin = knuthHashSql("(doc_id * 4 + 1)")
    val hu = knuthHashSql("(doc_id * 4 + 2)")
    val hv = knuthHashSql("(doc_id * 4 + 3)")
    s"""WITH RECURSIVE $packCtes,
       |m AS (SELECT doc_id, n_tok - 1 AS n_tok FROM alld),
       |lanes AS (
       |  SELECT doc_id, n_tok,
       |    $coin < 2147483648 AS fim,
       |    $hu % (n_tok + 1) AS u,
       |    $hv % (n_tok + 1) AS v
       |  FROM m),
       |sp AS (
       |  SELECT doc_id, n_tok, fim,
       |    least(u, v) AS lo, greatest(u, v) AS hi
       |  FROM lanes)
       |SELECT doc_id, cast(n_tok AS BIGINT) AS n_tok, fim,
       |  cast(CASE WHEN fim THEN lo ELSE n_tok END AS BIGINT)
       |    AS prefix_len,
       |  cast(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT)
       |    AS middle_len,
       |  cast(CASE WHEN fim THEN n_tok - hi ELSE 0 END AS BIGINT)
       |    AS suffix_len
       |FROM sp ORDER BY doc_id""".stripMargin
  }

  /** T5 span-corruption replay: [[packCtes]]'s trained-BPE token
    * counts (−1 sentinel), the integer noise/span-count arithmetic,
    * the nested-Knuth draw lanes, and the stars-and-bars placement —
    * the sort of the per-doc draws is a window row_number, the noise
    * prefix is the closed form k·base + min(k, rem). Verbatim mirror
    * of the Spark arithmetic; `//` and `%` operate on non-negative
    * operands throughout, so they agree with `idiv`/`pmod` exactly. */
  private lazy val t5SpansOracleSql: String = {
    val inner = knuthHashSql("(doc_id * 2 + 1)")
    val lane = knuthHashSql(s"($inner + draw_id)")
    s"""WITH RECURSIVE $packCtes,
       |m AS (SELECT doc_id, n_tok - 1 AS n FROM alld),
       |b0 AS (SELECT doc_id, n, (n * 15) // 100 AS n_noise FROM m),
       |b1 AS (
       |  SELECT doc_id, n, n_noise, (n_noise + 2) // 3 AS n_spans,
       |    n - n_noise AS n_keep
       |  FROM b0 WHERE n_noise >= 1),
       |dr AS (
       |  SELECT doc_id, n, n_noise, n_spans, n_keep,
       |    unnest(range(0, n_spans)) AS draw_id
       |  FROM b1),
       |d2 AS (SELECT *, $lane % (n_keep + 1) AS draw FROM dr),
       |d3 AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY draw, draw_id) - 1 AS k
       |  FROM d2)
       |SELECT doc_id, cast(n AS BIGINT) AS n_tok,
       |  cast(n_noise AS BIGINT) AS n_noise,
       |  cast(n_spans AS BIGINT) AS n_spans,
       |  cast(k AS BIGINT) AS span_id,
       |  cast(draw + k * (n_noise // n_spans)
       |    + least(k, n_noise % n_spans) AS BIGINT) AS span_start,
       |  cast(n_noise // n_spans
       |    + CASE WHEN k < n_noise % n_spans THEN 1 ELSE 0 END
       |    AS BIGINT) AS span_len
       |FROM d3 ORDER BY doc_id, span_id""".stripMargin
  }

  /** UL2 manifest replay: denoiser assignment, the S split lane, and
    * the R/X stars-and-bars construction with per-class parameters as
    * CASE columns — verbatim [[t5SpansOracleSql]] arithmetic, the
    * lane salted per class exactly as the Spark columns are. */
  private lazy val ul2SpansOracleSql: String = {
    val den = knuthHashSql("(doc_id * 8 + 7)")
    val sLane = knuthHashSql("(doc_id * 8 + 6)")
    val rxLane = knuthHashSql(
      s"(${knuthHashSql("(doc_id * 8 + salt)")} + draw_id)")
    s"""WITH RECURSIVE $packCtes,
       |m AS (SELECT doc_id, n_tok - 1 AS n FROM alld
       |      WHERE n_tok - 1 >= 1),
       |dn AS (SELECT doc_id, n, $den // 1073741824 AS dcode FROM m),
       |sb AS (
       |  SELECT doc_id, 'S' AS denoiser, n AS n_tok,
       |    n - u AS n_noise, cast(1 AS BIGINT) AS n_spans,
       |    cast(0 AS BIGINT) AS span_id, u AS span_start,
       |    n - u AS span_len
       |  FROM (SELECT doc_id, n, $sLane % (n + 1) AS u
       |        FROM dn WHERE dcode = 2)),
       |rxb AS (
       |  SELECT doc_id, n,
       |    CASE WHEN dcode <= 1 THEN 'R' ELSE 'X' END AS denoiser,
       |    CASE WHEN dcode <= 1 THEN (n * 15) // 100
       |         ELSE (n * 50) // 100 END AS n_noise,
       |    CASE WHEN dcode <= 1 THEN 3 ELSE 32 END AS mean,
       |    CASE WHEN dcode <= 1 THEN 3 ELSE 5 END AS salt
       |  FROM dn WHERE dcode != 2),
       |rx1 AS (
       |  SELECT *, (n_noise + mean - 1) // mean AS n_spans,
       |    n - n_noise AS n_keep
       |  FROM rxb WHERE n_noise >= 1),
       |dr AS (
       |  SELECT *, unnest(range(0, n_spans)) AS draw_id FROM rx1),
       |d2 AS (SELECT *, $rxLane % (n_keep + 1) AS draw FROM dr),
       |d3 AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY draw, draw_id) - 1 AS k
       |  FROM d2),
       |rxo AS (
       |  SELECT doc_id, denoiser, n AS n_tok, n_noise, n_spans,
       |    k AS span_id,
       |    draw + k * (n_noise // n_spans)
       |      + least(k, n_noise % n_spans) AS span_start,
       |    n_noise // n_spans
       |      + CASE WHEN k < n_noise % n_spans THEN 1 ELSE 0 END
       |      AS span_len
       |  FROM d3),
       |uni AS (SELECT * FROM rxo UNION ALL SELECT * FROM sb)
       |SELECT doc_id, denoiser, cast(n_tok AS BIGINT) AS n_tok,
       |  cast(n_noise AS BIGINT) AS n_noise,
       |  cast(n_spans AS BIGINT) AS n_spans,
       |  cast(span_id AS BIGINT) AS span_id,
       |  cast(span_start AS BIGINT) AS span_start,
       |  cast(span_len AS BIGINT) AS span_len
       |FROM uni ORDER BY doc_id, span_id""".stripMargin
  }

  /** Cluster-balance replay: the embedded IVF centroids
    * ({{IVF_Cn}}, same literals as [[ivfOracleSql]]) re-derive every
    * cell assignment (first-max argmax as (sim DESC, cid)
    * row_number), then the per-cell keep set is the (knuthHash,
    * vec_id) lexicographic top-16 — the window form of the bounded
    * TopK aggregate the Spark side uses. */
  private lazy val clusterBalanceOracleSql: String = {
    val centroidRows = (0 until 8)
      .map(i => s"($i, {{IVF_C${i + 1}}})").mkString(",\n    ")
    s"""WITH c AS (SELECT * FROM (VALUES
       |    $centroidRows) AS t(cid, cvec)),
       |e AS (SELECT vec_id, cast(embedding as DOUBLE[]) AS v
       |      FROM embeddings),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v,
       |          cast(c.cvec as DOUBLE[])) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |sz AS (SELECT cid, count(*) AS cl_size FROM asg GROUP BY cid),
       |rk AS (
       |  SELECT cid, vec_id,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY ${knuthHashSql("vec_id")}, vec_id) AS rank
       |  FROM asg)
       |SELECT cast(rk.cid AS BIGINT) AS cid, rk.vec_id,
       |  cast(rank AS BIGINT) AS rank, cast(cl_size AS BIGINT) AS cl_size
       |FROM rk JOIN sz USING (cid) WHERE rank <= 16
       |ORDER BY cid, rank""".stripMargin
  }

  /** Vocab-prune replay: the merge recursion re-encodes every word
    * type ([[packExportOracleSql]]'s chain, syms kept), piece
    * frequencies re-assemble by word multiplicity from the raw
    * corpus, and the merge rows themselves come from the SAME
    * embedded rank map the recursion merges with (piece = the key
    * with its single separator space removed — pre-tokenizer classes
    * exclude whitespace, so left/right can never contain one). The
    * 0.1% keep threshold replays as pure integer arithmetic. */
  private lazy val vocabPruneOracleSql: String =
    """WITH RECURSIVE words AS (
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
      |  SELECT w, syms FROM (
      |    SELECT w, syms,
      |      row_number() OVER (PARTITION BY w ORDER BY len(syms)) AS rn
      |    FROM rec) WHERE rn = 1),
      |seqw AS (
      |  SELECT unnest(regexp_extract_all(text,
      |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+')) AS w
      |  FROM documents),
      |wc AS (SELECT w, count(*) AS n FROM seqw GROUP BY w),
      |pf AS (
      |  SELECT u.p AS piece, sum(wc.n) AS freq
      |  FROM fin f JOIN wc USING (w), LATERAL unnest(f.syms) u(p)
      |  GROUP BY u.p),
      |tot AS (SELECT sum(freq) AS total FROM pf),
      |mg AS (
      |  SELECT cast(e.value AS BIGINT) AS rank,
      |    replace(e.key, ' ', '') AS piece
      |  FROM (SELECT unnest(map_entries({{BPE_RANK_MAP}})) AS e))
      |SELECT mg.rank, mg.piece,
      |  cast(coalesce(pf.freq, 0) AS BIGINT) AS freq,
      |  (coalesce(pf.freq, 0) * 1000 >= tot.total) AS kept
      |FROM mg LEFT JOIN pf USING (piece) CROSS JOIN tot
      |ORDER BY mg.rank""".stripMargin

  /** DuckDB replay of the global packing manifest: trained-BPE token
    * counts from the raw corpus ([[packCtes]]) + window cumsum +
    * integer block arithmetic (`//` mirrors [[graft.ops.DedupOps
    * .idiv]]). */
  private lazy val packGlobalOracleSql: String =
    s"""WITH RECURSIVE $packCtes
       |SELECT doc_id, n_tok, tok_start,
       |  cast(first_block AS BIGINT) AS first_block,
       |  cast(last_block AS BIGINT) AS last_block,
       |  cast(start_off AS BIGINT) AS start_off,
       |  cast(last_block - first_block + 1 AS BIGINT) AS n_blocks
       |FROM spans ORDER BY doc_id""".stripMargin

  /** Block-side replay: every doc span explodes to the 128-token
    * blocks it touches with its clipped token contribution, and the
    * per-block fills roll into the docs-per-block histogram. Each
    * interior block must reconstruct to exactly 128 tokens from its
    * fragments or the hash check dies — the strongest certification
    * of the span arithmetic. */
  private lazy val packBlocksOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |blocks AS (
       |  SELECT g.b AS block_id, count(*) AS n_docs,
       |    sum(least((g.b + 1) * 128, tok_start + n_tok)
       |      - greatest(g.b * 128, tok_start)) AS fill
       |  FROM spans,
       |    LATERAL unnest(generate_series(first_block, last_block)) g(b)
       |  GROUP BY g.b)
       |SELECT cast(n_docs AS BIGINT) AS docs_per_block,
       |  cast(count(*) AS BIGINT) AS n_blocks,
       |  cast(sum(fill) AS BIGINT) AS n_tokens
       |FROM blocks GROUP BY n_docs ORDER BY docs_per_block""".stripMargin

  /** DuckDB replay of the deterministic epoch shuffle: total tokens
    * from the [[packCtes]] corpus replay give the block count; each
    * (epoch, block)'s position is its md5 rank within the epoch —
    * row_number over (md5, block) matches the Spark side's global
    * rank minus the epoch base because the zero-padded epoch prefixes
    * the Spark order key. DuckDB's md5 spells the same lowercase hex
    * over the same ASCII bytes. */
  private lazy val epochShuffleOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |nb AS (SELECT cast((sum(n_tok) + 127) // 128 AS BIGINT) AS n
       |  FROM alld),
       |eb AS (
       |  SELECT e.e AS epoch, g.b AS block_id,
       |    md5(cast(e.e AS VARCHAR) || ':' || cast(g.b AS VARCHAR))
       |      AS h
       |  FROM nb,
       |    LATERAL unnest(generate_series(0, nb.n - 1)) g(b),
       |    LATERAL unnest(generate_series(0, 2)) e(e))
       |SELECT cast(epoch AS BIGINT) AS epoch,
       |  cast(block_id AS BIGINT) AS block_id,
       |  cast(row_number() OVER (PARTITION BY epoch
       |    ORDER BY h, block_id) - 1 AS BIGINT) AS pos
       |FROM eb ORDER BY epoch, block_id""".stripMargin

  /** Shared CTE suffix for the document-boundary (next-fit) packing
    * oracles, appended after [[packCtes]] (uses its `alld` per-doc
    * token counts): the per-64-doc-bucket sequential walk replayed as
    * a lockstep recursion (all buckets advance one doc per step —
    * the placement scalars mirror [[graft.ops.PackOps.nextFitPack]]'s
    * accumulator exactly), then bucket block ranges concatenate via a
    * window exclusive scan. */
  private lazy val greedyCtes: String =
    """bdocs AS (
      |  SELECT doc_id // 64 AS bucket, doc_id, n_tok,
      |    row_number() OVER (PARTITION BY doc_id // 64
      |      ORDER BY doc_id) AS rn
      |  FROM alld),
      |walk(bucket, rn, doc_id, n_tok, first_rel, last_rel, fill_a,
      |     start_off) AS (
      |  SELECT bucket, rn, doc_id, n_tok,
      |    cast(0 AS BIGINT),
      |    (n_tok - 1) // 128,
      |    n_tok - ((n_tok - 1) // 128) * 128,
      |    cast(0 AS BIGINT)
      |  FROM bdocs WHERE rn = 1
      |  UNION ALL
      |  SELECT d.bucket, d.rn, d.doc_id, d.n_tok,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.last_rel
      |         WHEN w.fill_a = 0 THEN w.last_rel
      |         ELSE w.last_rel + 1 END,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.last_rel
      |         WHEN w.fill_a = 0 THEN w.last_rel
      |         ELSE w.last_rel + 1 END
      |      + CASE WHEN d.n_tok <= 128 - w.fill_a THEN 0
      |             ELSE (d.n_tok - 1) // 128 END,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.fill_a + d.n_tok
      |         ELSE d.n_tok - ((d.n_tok - 1) // 128) * 128 END,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.fill_a
      |         ELSE 0 END
      |  FROM walk w JOIN bdocs d
      |    ON d.bucket = w.bucket AND d.rn = w.rn + 1),
      |bu AS (
      |  SELECT bucket, max(last_rel) + 1 AS nb
      |  FROM walk GROUP BY bucket),
      |gbase AS (
      |  SELECT bucket, coalesce(sum(nb) OVER (ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS base
      |  FROM bu),
      |greedy AS (
      |  SELECT w.bucket, w.doc_id, w.n_tok,
      |    w.first_rel + g.base AS first_block,
      |    w.last_rel + g.base AS last_block,
      |    w.start_off
      |  FROM walk w JOIN gbase g USING (bucket))""".stripMargin

  /** DuckDB replay of the per-doc next-fit packing manifest. */
  private lazy val packGreedyOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |$greedyCtes
       |SELECT cast(bucket AS BIGINT) AS bucket, doc_id,
       |  cast(n_tok AS BIGINT) AS n_tok,
       |  cast(first_block AS BIGINT) AS first_block,
       |  cast(last_block AS BIGINT) AS last_block,
       |  cast(start_off AS BIGINT) AS start_off
       |FROM greedy ORDER BY doc_id""".stripMargin

  /** DuckDB replay of the per-bucket padding bill. */
  private lazy val packPaddingOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |$greedyCtes
       |SELECT cast(bucket AS BIGINT) AS bucket,
       |  cast(count(*) AS BIGINT) AS n_docs,
       |  cast(sum(n_tok) AS BIGINT) AS n_tokens,
       |  cast(max(last_block) - min(first_block) + 1 AS BIGINT)
       |    AS n_blocks,
       |  cast((max(last_block) - min(first_block) + 1) * 128
       |    - sum(n_tok) AS BIGINT) AS pad_tokens
       |FROM greedy GROUP BY bucket ORDER BY bucket""".stripMargin

  /** DuckDB replay of the quality curriculum: [[packCtes]] block
    * fragments × the [[qcFeatureCtes]] classifier score (embedded
    * IRLS coefficients, micro-quantized to an exact integer after the
    * shared round-to-6dp), token-weighted integer block scores, and
    * the descending-quality rank. All block arithmetic is integer —
    * the only doubles are the classifier sigmoid and its two rounds,
    * both already hash-certified by the quality-classifier oracle. */
  /** Shared CTE chain of the curriculum oracles — ends at `r`
    * holding (block_id, fill, score_micro). Shared verbatim by
    * [[curriculumOracleSql]] and [[curriculumAnnealOracleSql]]. */
  private lazy val curriculumCtes: String =
    s"""$packCtes,
       |contrib AS (
       |  SELECT doc_id, g.b AS block_id,
       |    least((g.b + 1) * 128, tok_start + n_tok)
       |      - greatest(g.b * 128, tok_start) AS bt
       |  FROM spans,
       |    LATERAL unnest(generate_series(first_block, last_block)) g(b)),
       |$qcFeatureCtes,
       |sc AS (
       |  SELECT doc_id,
       |    cast(round(round(1.0 / (1.0 + exp(-(
       |      f0*({{QC_B0}}) + f1*({{QC_B1}}) + f2*({{QC_B2}})
       |      + f3*({{QC_B3}}) + f4*({{QC_B4}}) + f5*({{QC_B5}})))), 6)
       |      * 1000000.0) AS BIGINT) AS p_micro
       |  FROM f),
       |bk AS (
       |  SELECT block_id, cast(sum(bt) AS BIGINT) AS fill,
       |    cast(sum(bt * p_micro) AS BIGINT) AS wsum
       |  FROM contrib JOIN sc USING (doc_id) GROUP BY block_id),
       |r AS (
       |  SELECT block_id, fill, (wsum * 128) // fill AS score_micro
       |  FROM bk)""".stripMargin

  private lazy val curriculumOracleSql: String =
    s"""WITH RECURSIVE $curriculumCtes
       |SELECT cast(block_id AS BIGINT) AS block_id, fill,
       |  cast(score_micro AS BIGINT) AS score_micro,
       |  cast(row_number() OVER (ORDER BY score_micro DESC, block_id)
       |    - 1 AS BIGINT) AS cur_rank
       |FROM r ORDER BY block_id""".stripMargin

  /** Anneal replay: epoch 0 = the curriculum rank, epochs 1..2 =
    * the md5(epoch:block) shuffle rank (the
    * [[epochShuffleOracleSql]] lane, restricted to epochs >= 1). */
  private lazy val curriculumAnnealOracleSql: String =
    s"""WITH RECURSIVE $curriculumCtes,
       |rk AS (
       |  SELECT block_id,
       |    row_number() OVER (ORDER BY score_micro DESC, block_id) - 1
       |      AS pos
       |  FROM r),
       |eb AS (
       |  SELECT e.e AS epoch, rk.block_id,
       |    md5(cast(e.e AS VARCHAR) || ':' ||
       |      cast(rk.block_id AS VARCHAR)) AS h
       |  FROM rk, LATERAL unnest(generate_series(1, 2)) e(e)),
       |sh AS (
       |  SELECT epoch, block_id,
       |    row_number() OVER (PARTITION BY epoch ORDER BY h, block_id)
       |      - 1 AS pos
       |  FROM eb)
       |SELECT cast(epoch AS BIGINT) AS epoch,
       |  cast(block_id AS BIGINT) AS block_id,
       |  cast(pos AS BIGINT) AS pos
       |FROM (SELECT 0 AS epoch, block_id, pos FROM rk
       |      UNION ALL SELECT epoch, block_id, pos FROM sh)
       |ORDER BY epoch, block_id""".stripMargin

  /** The ingest loop's DRIFT EMISSION replayed end-to-end: the
    * [[ingestStreamCtes]] prefix re-derives each batch's ACCEPTED
    * clean text (batch b1 gated against b0's merges), and the shared
    * [[driftMachineryTail]] re-encodes it under the shipped frozen
    * models — so the loop's third output (after gating and merging)
    * is hash-certified too, not just spec-gated against its batch
    * twin. */
  private lazy val ingestDriftOracleSql: String =
    "WITH RECURSIVE " + ingestStreamCtes + ",\n" +
      "docsrc AS (\n" +
      "  SELECT 'b0' AS grp, clean AS text FROM s4_a\n" +
      "  UNION ALL SELECT 'b1', clean FROM s4_b),\n" +
      driftMachineryTail("batch")

  /** The ingest loop's INCREMENTAL PACK MANIFEST replayed end-to-end:
    * the [[ingestStreamCtes]] prefix re-derives each batch's accepted
    * clean text, the BPE merge recursion (same shape as the standalone
    * encode oracle) reduces each accepted word type to its piece
    * count, per-doc token counts re-assemble by multiplicity (+1
    * end-of-doc separator; a doc with no pre-tokenizer matches keeps
    * the bare separator via the LEFT JOIN), and the stream offsets are
    * the exclusive cumsum in arrival order (batch, doc_id) — the
    * order the loop's per-batch [[graft.ops.PackOps.withGlobalOffset]]
    * + stored-total base produces by construction. */
  private lazy val packIncrOracleSql: String =
    "WITH RECURSIVE " + ingestStreamCtes + ",\n" +
      """acc AS (
        |  SELECT 'b0' AS batch, doc_id, clean FROM s4_a
        |  UNION ALL SELECT 'b1', doc_id, clean FROM s4_b),
        |pw AS (
        |  SELECT batch, doc_id, regexp_extract_all(clean,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+') AS ws
        |  FROM acc),
        |pwords AS (SELECT DISTINCT w FROM (
        |  SELECT unnest(ws) AS w FROM pw)),
        |prec(w, syms) AS (
        |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i])
        |  FROM pwords
        |  UNION ALL
        |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
        |  FROM (
        |    SELECT w, syms, list_position(pr, list_min(pr)) AS bi,
        |      list_min(pr) AS br
        |    FROM (SELECT w, syms,
        |        list_transform(range(1, len(syms)), i ->
        |          coalesce(({{BPE_RANK_MAP}}[syms[i] || ' ' ||
        |            syms[i+1]])[1], 1000000)) AS pr
        |      FROM prec WHERE len(syms) >= 2) t) u
        |  WHERE br < 1000000),
        |pfin AS (
        |  SELECT w, len(syms) AS np FROM (
        |    SELECT w, syms,
        |      row_number() OVER (PARTITION BY w ORDER BY len(syms))
        |        AS rn
        |    FROM prec) WHERE rn = 1),
        |pseq AS (SELECT batch, doc_id, unnest(ws) AS w FROM pw),
        |ptok AS (
        |  SELECT p.batch, p.doc_id, cast(sum(f.np) AS BIGINT) AS nt
        |  FROM pseq p JOIN pfin f USING (w)
        |  GROUP BY p.batch, p.doc_id),
        |pman AS (
        |  SELECT a.batch, a.doc_id,
        |    cast(coalesce(t.nt, 0) + 1 AS BIGINT) AS n_tok
        |  FROM acc a LEFT JOIN ptok t
        |    ON a.batch = t.batch AND a.doc_id = t.doc_id)
        |SELECT batch, doc_id, n_tok,
        |  cast(coalesce(sum(n_tok) OVER (ORDER BY batch, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS tok_start
        |FROM pman ORDER BY batch, doc_id""".stripMargin

  private lazy val qcOracleSql: String =
    s"""WITH $qcFeatureCtes,
      |s AS (
      |  SELECT lang, label,
      |    CASE WHEN round(1.0 / (1.0 + exp(-(
      |      f0*({{QC_B0}}) + f1*({{QC_B1}}) + f2*({{QC_B2}})
      |      + f3*({{QC_B3}}) + f4*({{QC_B4}}) + f5*({{QC_B5}})))), 6)
      |      >= 0.5 THEN 1 ELSE 0 END AS clf_pass
      |  FROM f)
      |SELECT lang, count(*) AS n_docs,
      |  cast(sum(label) as bigint) AS n_rule_pass,
      |  cast(sum(clf_pass) as bigint) AS n_clf_pass,
      |  cast(sum(CASE WHEN clf_pass = label THEN 1 ELSE 0 END)
      |    as bigint) AS n_agree
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  val all: Seq[Query] = Seq(
    // Tumbling-hour aggregation over the event stream. ts arrives as a
    // nanosecond-epoch long (see Tables.load); integer `div` keeps the
    // truncation exact (a double division would lose precision above
    // 2^53 ns).
    Query("q_events_hourly", (s, d) => {
      val hourUs = expr("ts div 3600000000000") * lit(3600000000L)
      t(s, d, "events")
        .groupBy(timestamp_micros(hourUs).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    }, Sql(
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
         |  count(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY hour, event_type
         |ORDER BY hour, event_type""".stripMargin)),

    // Cohort retention — the day-offset activity triangle every
    // product-analytics stack ships: users cohort by FIRST-event day;
    // each (cohort day, day offset) cell counts the distinct users
    // still active that many days later, plus the retention
    // percentage against the cohort size. Three aggregations + one
    // join, ALL keyed on user_id or the cohort day (at 100 TB the
    // events⋈first-day join co-keys on user_id — the funnel family's
    // partitioning — and the cells/sizes tables are days-sized).
    Query("q_cohort_retention", (s, d) => {
      // ts is epoch nanos (the Tables.events contract); days are
      // integer epoch-day numbers so the arithmetic is exact
      val ev = t(s, d, "events")
        .select(col("user_id"),
          expr("ts div 86400000000000").as("day"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_n"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(sizes, Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("n_active"),
          col("cohort_n"),
          round(col("n_active").cast("double") * 100 / col("cohort_n"), 4)
            .as("retention_pct"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
      // Cohort retention: integer epoch-day numbers on both sides
      // (micros // 86400e6 == nanos div 86400e9).
      Sql(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day
        |      FROM ev GROUP BY user_id),
        |s AS (SELECT cohort_day, count(*) AS cohort_n
        |      FROM f GROUP BY cohort_day),
        |a AS (SELECT f.cohort_day, ev.day - f.cohort_day AS day_offset,
        |             count(DISTINCT ev.user_id) AS n_active
        |      FROM ev JOIN f ON ev.user_id = f.user_id
        |      GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_n,
        |  round(cast(a.n_active AS double) * 100 / s.cohort_n, 4)
        |    AS retention_pct
        |FROM a JOIN s ON a.cohort_day = s.cohort_day
        |ORDER BY a.cohort_day, day_offset""".stripMargin)),

    // Ordered-funnel analysis (view → click-within-24h →
    // purchase-within-24h): per user, each step's timestamp is the
    // FIRST occurrence strictly after the previous step and inside
    // its conversion window — three conditional-min aggregation
    // passes, each a co-keyed join+agg on user_id (the sequential
    // dependency is inherent to funnel semantics; all three shuffles
    // share the user_id key, so at cluster scale they pipeline over
    // one partitioning). Output: one row of per-step user counts
    // (150 → 60 → 25 at sf0.01).
    Query("q_funnel", (s, d) => {
      val dayNs = 86400000000000L // ts is an epoch-nanos long here
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + dayNs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + dayNs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_view_click_purchase")))
    }, Sql(
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL '24 hours'
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL '24 hours'
        |       GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_view,
        |  (SELECT count(*) FROM s2) AS n_view_click,
        |  (SELECT count(*) FROM s3) AS n_view_click_purchase""".stripMargin)),

    // Event-log compaction / debounce: drop events repeating the same
    // (user, type) within 5 minutes of the previous occurrence — the
    // at-source thinning step before sessionization or feature
    // extraction. Lag-based (throttle against the previous RAW event:
    // deterministic and one window pass; a throttle against the
    // previous KEPT event would be a stateful chain — that shape
    // lives in streaming sessionize). Output: per-type keep counts.
    Query("q_event_compact", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("tsc"), col("event_id"))
      t(s, d, "events")
        .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
        .withColumn("prev", lag(col("tsc"), 1).over(w))
        .withColumn("kept", col("prev").isNull ||
          unix_micros(col("tsc")) - unix_micros(col("prev")) > 300000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("event_type"))
    }, Sql(
      """WITH x AS (
        |  SELECT event_type, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |  cast(sum(CASE WHEN prev IS NULL OR tus - prev > 300000000
        |    THEN 1 ELSE 0 END) as bigint) AS n_kept
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Hourly-count anomaly flags (z-score > 2 per event type): the
    // monitoring query over an event firehose. Per-type mean/stddev
    // come from a tiny aggregate broadcast back onto the hourly frame
    // — NOT a whole-partition window, whose parallelism would be
    // capped at the (small) number of types at cluster scale. Counts
    // are integers, so the double stats are exact and the rounded
    // z-scores cross-engine stable.
    Query("q_anomaly", (s, d) => {
      val hourUs = expr("ts div 3600000000000") * lit(3600000000L)
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), timestamp_micros(hourUs).as("hour"))
        .agg(count(lit(1)).cast("double").as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("n") - col("mu")) / col("sd"))
        // sd = 0 (a perfectly constant-rate type) would make z = 0/0 =
        // NaN, and NaN compares GREATER than 2.0 under Spark's total
        // ordering — guard so a constant type is never flagged
        .filter(col("sd") > 0.0 && abs(col("z")) > 2.0)
        .select(col("event_type"), col("hour"),
          col("n").cast("bigint").as("n"), round(col("z"), 4).as("z"))
        .orderBy(col("event_type"), col("hour"))
    }, Sql(
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    cast(count(*) as double) AS n
        |  FROM events GROUP BY event_type, hour),
        |stats AS (
        |  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
        |  FROM hourly GROUP BY event_type)
        |SELECT hourly.event_type, hour, cast(n as bigint) AS n,
        |  round((n - mu) / sd, 4) AS z
        |FROM hourly JOIN stats USING (event_type)
        |WHERE sd > 0.0 AND abs((n - mu) / sd) > 2.0
        |ORDER BY event_type, hour""".stripMargin)),

    // Hopping (sliding) window counts: 1-hour windows every 30
    // minutes — each event lands in exactly 2 windows. Same operator
    // serves streaming inputs (EventStreams.windowedStats; the
    // streaming==batch equivalence is EventStreamsSpec-gated); counts
    // only in the declared output so the oracle compare stays exact.
    Query("q_events_sliding", (s, d) => {
      val ev = streaming.EventStreams.canonicalEvents(t(s, d, "events"))
      streaming.EventStreams
        .windowedStats(ev, "1 hour", slide = Some("30 minutes"))
        .select(col("window_start").as("ws"), col("event_type"), col("n"))
        .orderBy(col("ws"), col("event_type"))
    }, Sql(
      """SELECT make_timestamp(
        |    (epoch_us(ts) // 1800000000 - o) * 1800000000) AS ws,
        |  event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o)
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin)),

    // Regular-grid resample + forward fill (the feature-store
    // alignment op): per user, one row per hour bucket across the
    // user's observed range, valued at the most recent event at or
    // before the bucket close. Grid generated per key from a min/max
    // aggregate, filled by ONE per-key ordered window — no self-join,
    // no global sort; the oracle replays it as an ASOF join.
    Query("q_resample_ffill", (s, d) => {
      ops.TimeSeriesOps.resampleFfill(t(s, d, "events"),
          "user_id", "ts", "event_id", "value")
        .orderBy(col("user_id"), col("bucket"))
    },
      // each event belongs to the two 30-min-aligned windows covering it
      // The fill replayed as an ASOF join: sample instant = bucket close
      // (in micros — the Spark side's nanos are micros*1000, so the
      // boundary arithmetic is exact in both engines); same-instant
      // observations reduce by arg_max(value, event_id) first.
      Sql(
      """WITH ev0 AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |                    value FROM events),
        |ev AS (SELECT user_id, us, arg_max(value, event_id) AS value
        |       FROM ev0 GROUP BY user_id, us),
        |b AS (SELECT user_id, min(us // 3600000000) AS lo,
        |             max(us // 3600000000) AS hi
        |      FROM ev0 GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi))
        |           AS bucket FROM b),
        |g AS (SELECT user_id, bucket,
        |             (bucket + 1) * 3600000000 - 1 AS sus FROM grid)
        |SELECT g.user_id, g.bucket, e.value
        |FROM g ASOF JOIN ev e
        |  ON g.user_id = e.user_id AND g.sus >= e.us
        |ORDER BY g.user_id, g.bucket""".stripMargin)),

    // Click-attribution join (batch mirror of the watermarked
    // stream-stream join in EventStreams.clickAttribution): each click
    // paired with same-user views in the preceding 30 minutes.
    Query("q_attribution", (s, d) => {
      val ev = streaming.EventStreams.canonicalEvents(t(s, d, "events"))
      streaming.EventStreams.clickAttribution(ev, horizon = "4 hours")
        .groupBy(col("click_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("view_id")).as("max_view"))
        .orderBy(col("user_id"))
    }, Sql(
      """WITH c AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'click'),
        |     v AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'view')
        |SELECT c.user_id AS user_id, count(*) AS n_pairs,
        |  max(v.event_id) AS max_view
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.ts <= c.ts
        |  AND v.ts >= c.ts - INTERVAL 4 HOUR
        |GROUP BY c.user_id ORDER BY user_id""".stripMargin)),

    // Last-touch attribution: the nearest-only variant of
    // q_attribution — each click resolves to its single most recent
    // qualifying view (deterministic tie-break), under the oracle.
    Query("q_attribution_last", (s, d) => {
      val ev = streaming.EventStreams.canonicalEvents(t(s, d, "events"))
      streaming.EventStreams.lastTouchAttribution(ev, horizon = "4 hours")
        .select(col("click_id"), col("user_id"), col("view_id"))
        .orderBy(col("click_id"))
    }, Sql(
      """WITH c AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'click'),
        |     v AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT c.event_id AS click_id, c.user_id AS user_id,
        |        v.event_id AS view_id,
        |        row_number() OVER (PARTITION BY c.event_id
        |          ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |      FROM c JOIN v ON c.user_id = v.user_id
        |        AND v.ts <= c.ts
        |        AND v.ts >= c.ts - INTERVAL 4 HOUR)
        |SELECT click_id, user_id, view_id FROM p WHERE rn = 1
        |ORDER BY click_id""".stripMargin)),

    // Semi-structured JSON extraction from the props column.
    Query("q_events_json", (s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
        .orderBy(col("event_type"))
    }, Sql(
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(regexp_extract(props, '"k": ([0-9]+)', 1)
        |        as bigint)) as bigint) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Time-series gap-fill / resample: hourly event counts per type
    // over the FULL hour spine (zero rows where nothing happened) —
    // the densification step before any rate/anomaly math. The spine
    // is time-range x type cardinality, INDEPENDENT of row count, so
    // at 100 TB it is still a broadcast-sized frame joined against
    // the (already aggregated) hourly counts; the fact table is read
    // once. ts is int64 nanos (TESTDATA.md); hour ids stay integer
    // until the final render to timestamp.
    Query("q_events_resample", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("hr", expr("ts div 3600000000000"))
      val bounds = ev.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      val hours = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
      val types = ev.select(col("event_type")).distinct()
      val counts = ev.groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      hours.crossJoin(types)
        .join(counts, Seq("hr", "event_type"), "left")
        .select(timestamp_micros(col("hr") * lit(3600000000L)).as("hour"),
          col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hour"), col("event_type"))
    }, Sql(
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS mn,
        |             date_trunc('hour', max(ts)) AS mx FROM events),
        |hours AS (SELECT unnest(generate_series(mn, mx,
        |            INTERVAL 1 HOUR)) AS hr FROM b),
        |types AS (SELECT DISTINCT event_type AS et FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |        count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT h.hr AS hour, t.et AS event_type,
        |  cast(coalesce(c.n, 0) as bigint) AS n
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.et
        |ORDER BY hour, event_type""".stripMargin)),

    // Column-level data profile (rows, non-null, distinct, min/max) in
    // ONE pass over the table: the warehouse health-check every
    // ingest runs. Multiple exact count-distincts share the scan via
    // Catalyst's Expand-based rewrite; stack() unpivots the single
    // result row into one row per column. Numeric min/max round(4) to
    // stay engine-portable; string columns profile counts only.
    Query("q_profile", (s, d) => {
      t(s, d, "orders").agg(
        count(lit(1)).as("nr"),
        count(col("o_custkey")).as("nn1"),
        countDistinct(col("o_custkey")).as("nd1"),
        round(min(col("o_custkey")).cast("double"), 4).as("mn1"),
        round(max(col("o_custkey")).cast("double"), 4).as("mx1"),
        count(col("o_orderstatus")).as("nn2"),
        countDistinct(col("o_orderstatus")).as("nd2"),
        count(col("o_totalprice")).as("nn3"),
        countDistinct(col("o_totalprice")).as("nd3"),
        round(min(col("o_totalprice")), 4).as("mn3"),
        round(max(col("o_totalprice")), 4).as("mx3"))
        .selectExpr("stack(3, " +
          "'o_custkey', nr, nn1, nd1, mn1, mx1, " +
          "'o_orderstatus', nr, nn2, nd2, " +
          "cast(null as double), cast(null as double), " +
          "'o_totalprice', nr, nn3, nd3, mn3, mx3) " +
          "as (col, n_rows, n_nonnull, n_distinct, min_num, max_num)")
        .orderBy(col("col"))
    }, Sql(
      """SELECT * FROM (
        |  SELECT 'o_custkey' AS col, count(*) AS n_rows,
        |    count(o_custkey) AS n_nonnull,
        |    count(distinct o_custkey) AS n_distinct,
        |    round(min(o_custkey), 4) AS min_num,
        |    round(max(o_custkey), 4) AS max_num FROM orders
        |  UNION ALL SELECT 'o_orderstatus', count(*),
        |    count(o_orderstatus), count(distinct o_orderstatus),
        |    cast(NULL as double), cast(NULL as double) FROM orders
        |  UNION ALL SELECT 'o_totalprice', count(*),
        |    count(o_totalprice), count(distinct o_totalprice),
        |    round(min(o_totalprice), 4), round(max(o_totalprice), 4)
        |  FROM orders)
        |ORDER BY col""".stripMargin)),

    // Flagship end-to-end curation pipeline: score → quality-filter →
    // fingerprint-dedup (keep lowest doc_id per fingerprint) → curated
    // corpus stats. Every stage is a training-data op from §8.3; the
    // whole composition stays oracle-checkable.
    Query("pipeline_curate", (s, d) => {
      val surviving = curateSurvivors(s, d)
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      surviving
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
          col("quality_score"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    ${TextOps.sql.tokenCount} AS n_tokens,
         |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
         |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
         |                  as double)
         |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
         |    ${TextOps.sql.fingerprint} AS fp,
         |    CASE WHEN ${TextOps.sql.patCount(TextOps.sql.zh)} > 0 THEN 'zh'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.en)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.fr)},
         |                ${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'en'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.fr)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'fr'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.es)} >=
         |              ${TextOps.sql.patCount(TextOps.sql.de)} THEN 'es'
         |         ELSE 'de' END AS pred_lang
         |  FROM documents),
         |surviving AS (SELECT * FROM scored WHERE quality_score >= 0.3),
         |dedup AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |    AS rn
         |  FROM surviving)
         |SELECT doc_id, pred_lang, n_tokens, quality_score
         |FROM dedup WHERE rn = 1
         |ORDER BY doc_id""".stripMargin)),

    // Deterministic domain-mixture sampling: down-weight tail sources
    // to a target mix with a multiplicative-hash keep rule
    // (doc_id * 2654435761 mod 2^32 — Knuth '73) — reproducible across
    // runs and engines, no RNG state, and decorrelated from the id
    // sequence (a plain doc_id mod rule aliases with this corpus's
    // id↔source striping). One aggregation, no shuffle of text.
    Query("pipeline_mix", (s, d) => {
      val bucket = knuthBucket(col("doc_id"), 10)
      val rate = when(col("source").isin("src0", "src1", "src2", "src3"),
        lit(10)).otherwise(lit(3)) // head sources 100%, tail 30%
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(bucket < rate, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }, Sql(
      s"""SELECT source, count(*) AS n_total,
         |  cast(sum(CASE WHEN ${knuthHashSql("doc_id")} % 10 <
         |      (CASE WHEN source IN ('src0','src1','src2','src3')
         |            THEN 10 ELSE 3 END)
         |    THEN 1 ELSE 0 END) as bigint) AS n_kept
         |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Mixture budget planning: given target per-language mixture
    // weights and a total token budget (here the full corpus size —
    // i.e. rebalance the corpus to the target mixture at constant
    // volume), emit the per-language sampling plan a dataloader
    // executes — available tokens, target tokens, raw rate (exceeds 1
    // for upweighted strata), epoch count (ceil of rate: full passes
    // over the stratum), and the within-epoch keep rate. This is the
    // planning step BEFORE pipeline_mix's keep rule runs; at 100 TB it
    // is one aggregation over per-lang token sums (a rows-per-language
    // table) plus a broadcast scalar — nothing corpus-shaped moves.
    Query("pipeline_budget", (s, d) => {
      val weight = when(col("lang") === "en", 0.40)
        .when(col("lang") === "zh", 0.20)
        .when(col("lang") === "fr", 0.15)
        .when(col("lang") === "es", 0.15)
        .otherwise(0.10)
      val perLang = t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("avail_tokens"))
      val budget = t(s, d, "documents")
        .agg(sum(TextOps.tokenCount(col("text"))).as("budget"))
      perLang.crossJoin(broadcast(budget))
        .withColumn("target_tokens",
          round(weight * col("budget"), 2))
        .withColumn("rate",
          round(col("target_tokens") / col("avail_tokens"), 6))
        .withColumn("epochs", ceil(col("rate")).cast("bigint"))
        .withColumn("keep_rate_per_epoch",
          round(col("rate") / col("epochs"), 6))
        .select(col("lang"), col("avail_tokens"), col("target_tokens"),
          col("rate"), col("epochs"), col("keep_rate_per_epoch"))
        .orderBy(col("lang"))
    }, Sql(
      s"""WITH pl AS (
         |  SELECT lang, ${TextOps.sql.sumTokens} AS avail_tokens
         |  FROM documents GROUP BY lang),
         |b AS (SELECT cast(${TextOps.sql.sumTokens} as double) AS budget
         |      FROM documents),
         |m AS (
         |  SELECT lang, avail_tokens,
         |    round((CASE WHEN lang = 'en' THEN 0.40
         |                WHEN lang = 'zh' THEN 0.20
         |                WHEN lang = 'fr' THEN 0.15
         |                WHEN lang = 'es' THEN 0.15
         |                ELSE 0.10 END) * budget, 2) AS target_tokens
         |  FROM pl, b),
         |r AS (
         |  SELECT lang, avail_tokens, target_tokens,
         |    round(target_tokens / avail_tokens, 6) AS rate
         |  FROM m)
         |SELECT lang, avail_tokens, target_tokens, rate,
         |  cast(ceil(rate) as bigint) AS epochs,
         |  round(rate / cast(ceil(rate) as bigint), 6)
         |    AS keep_rate_per_epoch
         |FROM r ORDER BY lang""".stripMargin)),

    // Temperature-scaled mixture sampling (the multilingual-training
    // standard: sample language l ∝ p_l^α, α = 0.7 here — upweights
    // tail languages without drowning the head; XLM-R's exponent).
    // Emits per-language natural share p, temperature share q,
    // downsampling-only rate (q/p renormalized so the most-boosted
    // language keeps 100%), and expected kept docs. One per-lang
    // aggregate + broadcast scalars over the languages-sized table —
    // nothing corpus-shaped moves at any scale. Doubles are rounded
    // at every emitted column (the ln/pow discipline used by
    // text_tfidf_top) so cross-engine pow ulps cannot flip the hash.
    Query("pipeline_mix_temperature", (s, d) => {
      val alpha = 0.7
      // the corpus is scanned ONCE (the per-lang aggregate); the
      // global scalars (total, Z, max-rate) are single-partition
      // windows over the LANGUAGES-sized result — O(#languages) rows
      // through one task, never a second corpus pass (the
      // crossJoin-per-scalar formulation re-derived the aggregate
      // from parquet for every scalar branch)
      val all = Window.partitionBy()
      t(s, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("p", col("n_docs") / sum(col("n_docs")).over(all))
        .withColumn("pa", pow(col("p"), lit(alpha)))
        .withColumn("q", col("pa") / sum(col("pa")).over(all))
        .withColumn("rel", col("q") / col("p"))
        .withColumn("rate", col("rel") / max(col("rel")).over(all))
        .select(col("lang"), col("n_docs"),
          round(col("p"), 6).as("p"),
          round(col("q"), 6).as("q"),
          round(col("rate"), 6).as("rate"),
          round(col("n_docs") * col("rate"), 2).as("n_kept_expected"))
        .orderBy(col("lang"))
    }, Sql(
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |p1 AS (
        |  SELECT lang, n_docs,
        |    n_docs / cast((SELECT sum(n_docs) FROM pl) as double) AS p
        |  FROM pl),
        |p2 AS (
        |  SELECT lang, n_docs, p, pow(p, 0.7) AS pa FROM p1),
        |p3 AS (
        |  SELECT lang, n_docs, p,
        |    pa / (SELECT sum(pa) FROM p2) AS q FROM p2),
        |p4 AS (
        |  SELECT lang, n_docs, p, q, q / p AS rel FROM p3)
        |SELECT lang, n_docs, round(p, 6) AS p, round(q, 6) AS q,
        |  round(rel / (SELECT max(rel) FROM p4), 6) AS rate,
        |  round(n_docs * rel / (SELECT max(rel) FROM p4), 2)
        |    AS n_kept_expected
        |FROM p4 ORDER BY lang""".stripMargin)),

    // DSIR importance-resampling selection (Xie et al. 2023): score
    // every document by the log-likelihood ratio of its hashed-unigram
    // profile under the target slice (English docs — the trusted
    // corpus stand-in) vs the raw corpus, keep the top-100. The bucket
    // model is one B-row partial+final agg broadcast back to the token
    // stream; fully hash-oracled (md5 buckets + decimal-summed
    // round-12 log terms, see SelectionOps).
    Query("pipeline_dsir", (s, d) =>
      ops.SelectionOps.dsirTopK(tk(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 1024, topK = 100),
      // Mirrors SelectionOps.dsirTopK: same md5 bucket ids, the same
      // collapsed smoothed ratio with double casts BEFORE the multiply,
      // decimal-summed round-12 log terms, length-normalized weight.
      Sql(
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS is_target,
        |    (CAST('0x' || substring(md5(t.term), 1, 8) AS BIGINT)
        |      % 1024) AS b
        |  FROM documents,
        |    unnest(string_split(lower(text), ' ')) AS t(term)),
        |bs AS (
        |  SELECT b, count(*) AS cr,
        |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bs),
        |lr AS (
        |  SELECT b, CAST(round(ln(
        |      (CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE)) /
        |      (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE))), 12)
        |    AS DECIMAL(28,14)) AS lr
        |  FROM bs, tot)
        |SELECT doc_id, count(*) AS n_toks,
        |  round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS weight
        |FROM toks JOIN lr USING (b)
        |GROUP BY doc_id
        |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin)),

    // Model-based quality filtering: a logistic-regression scorer
    // TRAINED on this corpus (IRLS; one 27-cell decimal aggregate per
    // iteration — deterministic under any partitioning, see
    // QualityClassifierOps scaladoc) to reproduce the Gopher rule,
    // then applied map-side via broadcast coefficients — the
    // classifier-curation stage of public LLM pipelines (CCNet's
    // fastText model) in Spark-native form. Output: per-language
    // rule/classifier agreement. Training is not SQL-expressible →
    // rows-only; QualityClassifierSpec anchors beta against a driver
    // reference IRLS exactly and gates agreement + determinism.
    Query("pipeline_quality_classifier", (s, d) => {
      // features are materialized ONCE (localCheckpoint, same trade as
      // pipeline_full) — the 8 IRLS scans then read the compact
      // (6 doubles + label) table, not raw text + HOF featurization;
      // 5.2s -> ~1s at sf0.1. At 100 TB the features table is a
      // persisted artifact between curation stages anyway.
      // featurize is a regexp-heavy per-row kernel; a single-row-group
      // documents file would run it on one task — size-gated fan-out
      // parallelizes the one featurize pass that feeds all 8 IRLS scans
      val feats = graft.ops.QualityClassifierOps
        .featurize(ops.StorageOps.fanOutForKernel(
          t(s, d, "documents")), col("text"))
        .localCheckpoint()
      val beta = graft.ops.QualityClassifierOps.train(feats)
      feats
        .withColumn("p_quality",
          round(graft.ops.QualityClassifierOps.score(beta), 6))
        .withColumn("clf_pass",
          (col("p_quality") >= 0.5).cast("bigint"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label").cast("bigint")).as("n_rule_pass"),
          sum(col("clf_pass")).as("n_clf_pass"),
          sum(when(col("clf_pass") === col("label").cast("bigint"), 1L)
            .otherwise(0L)).as("n_agree"))
        .orderBy(col("lang"))
    },
      // trained-model SCORING oracles: the models are bit-deterministic
      // functions of the corpus, so Verify embeds their exact
      // coefficients ({{...}} placeholders -> [[oracleParams]] values,
      // substituted at dump time) and DuckDB replays the scoring
      // arithmetic end-to-end — training stays spec-anchored
      // (QualityClassifierSpec / PcaSpec), scoring becomes
      // hash-certified cross-engine
      Sql(qcOracleSql)),

    // Tokenizer-vocabulary coverage curve: top-20 corpus terms by
    // frequency with the cumulative fraction of all token instances
    // they cover — the first statistic a tokenizer-training run
    // reports (how big must the vocab be to cover X% of the stream).
    // One term-frequency aggregation (vocabulary-sized output), a
    // bounded TakeOrdered top-k — the full token stream never sorts —
    // and a 20-row window cumsum. Ties break by term for cross-engine
    // determinism.
    Query("text_vocab_coverage", (s, d) => {
      val terms = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("term"))
        .filter(length(col("term")) >= 1)
      val total = terms.agg(count(lit(1)).as("total"))
      val w = Window.orderBy(col("n").desc, col("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(20)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("term"))).cast("bigint"))
        .withColumn("cum_coverage",
          round(sum(col("n")).over(w).cast("double") / col("total"), 6))
        .select(col("rank"), col("term"), col("n"), col("cum_coverage"))
        .orderBy(col("rank"))
    }, Sql(
      """WITH t2 AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |t3 AS (SELECT term FROM t2 WHERE length(term) >= 1),
        |freq AS (SELECT term, count(*) AS n FROM t3 GROUP BY term),
        |top AS (SELECT term, n,
        |          row_number() OVER (ORDER BY n DESC, term) AS rank
        |        FROM freq ORDER BY n DESC, term LIMIT 20),
        |tot AS (SELECT count(*) AS total FROM t3)
        |SELECT rank, term, n,
        |  round(cast(sum(n) OVER (ORDER BY rank) as double) / total, 6)
        |    AS cum_coverage
        |FROM top, tot ORDER BY rank""".stripMargin)),

    // MapType battery: per-source language-count maps built with
    // map_from_entries over sorted entries, queried with map_keys /
    // map_filter / transform_values, and serialized deterministically
    // (sorted "lang:n" joins) so the DuckDB oracle — which has no map
    // type in this shape — verifies the SAME content via ordered
    // string aggregation. Maps are per-group metadata here (5 langs),
    // never corpus-shaped.
    Query("q_map_funcs", (s, d) => {
      val entries = t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      entries.groupBy(col("source"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("lang"), col("n"))))).as("m"))
        .select(col("source"),
          size(map_keys(col("m"))).cast("bigint").as("n_langs"),
          size(map_keys(map_filter(col("m"), (_, v) => v >= 20)))
            .cast("bigint").as("n_big_langs"),
          array_join(transform(map_entries(
            transform_values(col("m"), (_, v) => v * 2)),
            e => concat(e.getField("key"), lit(":"),
              e.getField("value"))), ",").as("doubled_map_str"))
        .orderBy(col("source"))
    }, Sql(
      """WITH e AS (
        |  SELECT source, lang, count(*) AS n
        |  FROM documents GROUP BY source, lang)
        |SELECT source,
        |  cast(count(*) as bigint) AS n_langs,
        |  cast(sum(CASE WHEN n >= 20 THEN 1 ELSE 0 END) as bigint)
        |    AS n_big_langs,
        |  string_agg(lang || ':' || cast(n * 2 as varchar),
        |             ',' ORDER BY lang) AS doubled_map_str
        |FROM e GROUP BY source ORDER BY source""".stripMargin)),

    // Deterministic stratified train/val/test split: the same Knuth
    // multiplicative hash as pipeline_mix buckets doc_id mod 100 into
    // 80/10/10. No RNG state, engine-portable, assignment stable under
    // any repartitioning — re-running the split on a grown corpus
    // never moves an old document between splits. Stratification is
    // just the split being independent of lang (verified by the
    // per-language breakdown this query emits).
    Query("q_tvt_split", (s, d) => {
      val bucket = knuthBucket(col("doc_id"), 100)
      t(s, d, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy(col("lang"), col("split"))
    }, Sql(
      s"""SELECT lang,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_docs, cast(sum(n_chars) as bigint) AS n_chars
         |FROM (SELECT lang, n_chars,
         |        ${knuthHashSql("doc_id")} % 100 AS b
         |      FROM documents)
         |GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // Deterministic weighted sampling (Efraimidis-Spirakis A-Res key:
    // u^(1/w) with u a hash-derived uniform, w = n_chars): the top-k
    // by key IS a sample where inclusion probability is proportional
    // to weight — no RNG state, reproducible under repartitioning and
    // resume, and at scale the top-k runs as the usual bounded
    // partial-topk merge, never a global sort. Keys round to 10
    // places (cut gap measured 3e-6 at sf0.01) so the cross-engine
    // cut never hinges on a pow() ulp.
    Query("q_weighted_sample", (s, d) => {
      val u = (knuthHash(col("doc_id")) + 1) / lit(4294967296.0)
      t(s, d, "documents")
        .select(col("doc_id"),
          round(pow(u, lit(1.0) / col("n_chars")), 10).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(20)
    }, Sql(
      s"""SELECT doc_id,
         |  round(pow((${knuthHashSql("doc_id")} + 1)
         |    / 4294967296.0, 1.0 / n_chars), 10) AS k
         |FROM documents ORDER BY k DESC, doc_id LIMIT 20""".stripMargin)),

    // Per-stratum weighted sampling: the q_weighted_sample A-Res key
    // ranked WITHIN language — 5 docs per stratum, inclusion
    // probability proportional to n_chars inside each language, so a
    // small language is never crowded out by a large one. One shuffle
    // on lang, and the plan's partial WindowGroupLimit (Spark's
    // rank-limit pushdown) caps the map side at 5 rows per (partition,
    // lang) BEFORE the exchange — the bounded top-k path is automatic
    // here, no full group membership ever sorts or shuffles.
    Query("q_weighted_stratified", (s, d) => {
      val u = (knuthHash(col("doc_id")) + 1) / lit(4294967296.0)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("k").desc, col("doc_id"))
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          round(pow(u, lit(1.0) / col("n_chars")), 10).as("k"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("doc_id"), col("k"))
        .orderBy(col("lang"), col("rnk"))
    }, Sql(
      s"""SELECT lang, rnk, doc_id, k FROM (
         |  SELECT lang, doc_id, k,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY k DESC, doc_id) AS rnk
         |  FROM (SELECT lang, doc_id,
         |          round(pow((${knuthHashSql("doc_id")} + 1)
         |            / 4294967296.0, 1.0 / n_chars), 10) AS k
         |        FROM documents))
         |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin)),

    // Deterministic weighted sampling WITH replacement (closes the
    // SURVEY §8.5 gap): k=20 independent draws, each draw a per-draw
    // A-Res top-1 (u_i^(1/w) with u_i hash-derived from (doc_id,
    // draw)), so one document can win several draws with probability
    // proportional to its weight each time. The doc x draw expansion
    // is a narrow 20x explode; the per-draw argmax is Spark's
    // rank-limit pushdown (WindowGroupLimit caps every partition at 1
    // row per draw BEFORE the exchange), so only n_draws rows per
    // partition ever shuffle — at 100 TB this is a map-side top-1
    // merge, never a sort. No RNG state; re-running on a grown corpus
    // re-draws (unlike the without-replacement split, inclusion here
    // is relative to the whole corpus by construction).
    Query("q_sample_replace", (s, d) => {
      val u = (knuthHash(col("doc_id") + col("draw") * lit(1000003L)) + 1) /
        lit(4294967296.0)
      val w = Window.partitionBy(col("draw"))
        .orderBy(col("k").desc, col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0L), lit(19L))).as("draw"))
        .select(col("draw"), col("doc_id"),
          round(pow(u, lit(1.0) / col("n_chars")), 10).as("k"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("draw"), col("doc_id"), col("k"))
        .orderBy(col("draw"))
    }, Sql(
      s"""WITH keyed AS (
         |  SELECT draw, doc_id,
         |    round(pow((${knuthHashSql("(doc_id + draw * 1000003)")} + 1)
         |      / 4294967296.0, 1.0 / n_chars), 10) AS k
         |  FROM documents, LATERAL unnest(generate_series(0, 19))
         |    AS t(draw)),
         |ranked AS (
         |  SELECT draw, doc_id, k,
         |    row_number() OVER (PARTITION BY draw
         |      ORDER BY k DESC, doc_id) AS rn
         |  FROM keyed)
         |SELECT draw, doc_id, k FROM ranked WHERE rn = 1
         |ORDER BY draw""".stripMargin)),

    // RAG-style document chunking: fixed-size character windows
    // (size 120) every `stride` 80 chars — the retrieval-prep step
    // after curation. Pure column arithmetic (chunk count from the doc
    // length, sequence+explode for chunk ids, substr for the slice):
    // no UDF and NO SHUFFLE — narrow transforms only, so at 100 TB it
    // streams map-side at parquet-scan speed (the ORDER BY here is
    // only the oracle contract). The 16-byte md5 travels instead of
    // the chunk text, so anything downstream (dedup of chunks, a
    // shuffle to an embedding stage) moves fixed-width columns.
    Query("q_chunk", (s, d) => {
      val size = 120
      val stride = 80
      val nChunks = lit(1L) + greatest(lit(0L),
        ceil((length(col("text")) - lit(size)).cast("double") / stride)
          .cast("long"))
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), nChunks.as("n_chunks"))
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("chunk",
          col("text").substr(col("chunk_id").cast("int") * stride + 1,
            lit(size)))
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).as("chunk_chars"),
          md5(col("chunk").cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Sql(
      """SELECT doc_id, i AS chunk_id,
        |  length(substring(text, cast(i*80+1 as int), 120)) AS chunk_chars,
        |  md5(substring(text, cast(i*80+1 as int), 120)) AS chunk_md5
        |FROM documents, LATERAL unnest(generate_series(0,
        |  greatest(0, cast(ceil((length(text)-120)/80.0) as bigint))))
        |  AS t(i)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Token-aligned chunking (closes the SURVEY §8.5 q_chunk caveat):
    // non-overlapping 64-TOKEN windows over the whitespace token
    // stream, so no token is ever split mid-chunk (the property a
    // tokenizer-fed dataloader needs; q_chunk's char windows can cut
    // words). Same narrow shape as q_chunk — split once, slice per
    // chunk id, no shuffle but the presentation sort — and the chunk
    // content is verified end-to-end via md5 of the rejoined token
    // slice. A BPE-budget per chunk (bpeTokenCount of the slice) rides
    // along so downstream packing can budget on real token estimates.
    Query("q_chunk_tokens", (s, d) => {
      val csize = 64
      val words = split(col("text"), " ")
      val nChunks = ceil(size(words).cast("double") / csize).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), words.as("w"), nChunks.as("n_chunks"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("chunk_words",
          slice(col("w"), col("chunk_id").cast("int") * csize + 1,
            lit(csize)))
        .withColumn("chunk_text", array_join(col("chunk_words"), " "))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk_words")).cast("bigint").as("n_tokens"),
          TextOps.bpeTokenCount(col("chunk_text")).as("bpe_budget"),
          md5(col("chunk_text").cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Sql(
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |c AS (
         |  SELECT doc_id, i AS chunk_id,
         |    list_slice(words, cast(i*64+1 as int),
         |      cast(least(len(words), (i+1)*64) as int)) AS cw
         |  FROM w, LATERAL unnest(generate_series(0,
         |    cast(ceil(len(words)/64.0) as bigint) - 1)) AS t(i))
         |SELECT doc_id, chunk_id,
         |  cast(len(cw) as bigint) AS n_tokens,
         |  ${TextOps.sql.bpeTokenCountOf("array_to_string(cw, ' ')")}
         |    AS bpe_budget,
         |  md5(array_to_string(cw, ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // STRIDED-OVERLAP passage windows — the retrieval-index variant of
    // q_chunk_tokens: RAG corpora window with overlap (here 64-token
    // windows every 32 tokens) so no answer span is ever split across
    // ALL the passages that could retrieve it. Starts are 0, 32, 64...
    // while start < n_tokens (trailing windows run short). Pure
    // per-row HOFs — no shuffle before the output sort; at 100 TB the
    // passage text column is what feeds the embedding batcher, md5'd
    // here so the oracle pins exact content.
    Query("q_chunk_overlap", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0L),
            ((size(col("w")) - 1) / 32).cast("long"))).as("passage_idx"))
        .withColumn("p",
          slice(col("w"), (col("passage_idx") * 32 + 1).cast("int"), lit(64)))
        .select(col("doc_id"), col("passage_idx"),
          size(col("p")).cast("bigint").as("n_tokens"),
          md5(array_join(col("p"), " ").cast("binary")).as("passage_md5"))
        .orderBy(col("doc_id"), col("passage_idx"))
    }, Sql(
      """SELECT doc_id, i AS passage_idx,
        |  cast(len(w[(i*32+1):(i*32+64)]) as bigint) AS n_tokens,
        |  md5(array_to_string(w[(i*32+1):(i*32+64)], ' ')) AS passage_md5
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
        |     LATERAL unnest(generate_series(0, (len(w) - 1) // 32)) AS t(i)
        |ORDER BY doc_id, passage_idx""".stripMargin)),

    // Chunking on TRAINED-subword boundaries — the composition of
    // q_chunk_tokens and the trained BPE tokenizer (the last §8.5
    // chunking gap): documents are encoded once with the codegen'd
    // BpeEncode expression, then tiled into non-overlapping 64-SUBWORD
    // windows, so no trained token unit is ever split across a chunk —
    // what a real sequence-packing pipeline feeds the dataloader.
    // Narrow except the output sort; chunk content is md5'd so BpeSpec
    // can verify every chunk against the reference encoder.
    // Oracle-checked: the embedded merge table lets DuckDB replay
    // encode + tiling + chunk md5s ([[chunkBpeOracleSql]]); BpeSpec
    // keeps the tiling/totals/content gates.
    Query("q_chunk_bpe", (s, d) => {
      val csize = 64
      val model = BpeOps.cachedTrain(s, s"$d/documents.parquet",
        t(s, d, "documents"), col("text"), numMerges = 64)
      // a zero-token doc still yields one (empty) chunk — sequence()
      // with stop < start would generate a DESCENDING range
      val nChunks = greatest(lit(1L),
        ceil(size(col("toks")).cast("double") / csize).cast("long"))
      tk(s, d, "documents")
        .select(col("doc_id"), BpeOps.encode(col("text"), model).as("toks"))
        .select(col("doc_id"), col("toks"), nChunks.as("n_chunks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("chunk_toks",
          slice(col("toks"), col("chunk_id").cast("int") * csize + 1,
            lit(csize)))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk_toks")).cast("bigint").as("n_subwords"),
          md5(array_join(col("chunk_toks"), " ").cast("binary"))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Sql(chunkBpeOracleSql)),

    // Training-shard packing: per language, pack documents (in doc_id
    // order) into ~4k-token shards by running token count — the
    // dataloader-sharding step after curation. The running sum is a
    // per-language window (one shuffle on lang, no global sort); at
    // 100 TB the partition key would widen to (lang, date-bucket) so
    // no single language serializes, at the cost of shard-boundary
    // resets per bucket.
    Query("pipeline_shard", (s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .withColumn("shard_id",
          floor((sum(col("n_tokens")).over(w) - 1) / 4096.0).cast("bigint"))
        .groupBy(col("lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
        .orderBy(col("lang"), col("shard_id"))
    }, Sql(
      s"""WITH c AS (
         |  SELECT lang, doc_id, ${TextOps.sql.tokenCount} AS n_tokens,
         |    sum(${TextOps.sql.tokenCount}) OVER (PARTITION BY lang
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents)
         |SELECT lang, cast(floor((cum - 1) / 4096.0) as bigint) AS shard_id,
         |  count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS shard_tokens
         |FROM c GROUP BY lang, shard_id ORDER BY lang, shard_id""".stripMargin)),

    // Sequence packing: q_chunk's bounded chunks greedily packed into
    // ~512-token training sequences per language (running token sum →
    // sequence id) — the chunk/pack composition a pretraining
    // dataloader runs after curation. Chunking bounds every unit at
    // 120 chars, so unlike whole-doc sharding no single document can
    // overflow a sequence. The chunk step is shuffle-free; packing is
    // one shuffle on lang (at 100 TB the key widens to (lang, bucket)
    // exactly like pipeline_shard, same trade documented there).
    Query("pipeline_pack", (s, d) => {
      val size = 120
      val stride = 80
      val nChunks = lit(1L) + greatest(lit(0L),
        ceil((length(col("text")) - lit(size)).cast("double") / stride)
          .cast("long"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("doc_id"), col("chunk_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("text"),
          nChunks.as("n_chunks"))
        .select(col("lang"), col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("n_tokens", TextOps.tokenCount(
          col("text").substr(col("chunk_id").cast("int") * stride + 1,
            lit(size))))
        .withColumn("seq_id",
          floor((sum(col("n_tokens")).over(w) - 1) / 512.0).cast("bigint"))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("seq_tokens"))
        .orderBy(col("lang"), col("seq_id"))
    }, Sql(
      """WITH ch AS (
        |  SELECT lang, doc_id, i AS chunk_id,
        |    cast(len(string_split(
        |      substring(text, cast(i*80+1 as int), 120), ' '))
        |      as bigint) AS n_tokens
        |  FROM documents, LATERAL unnest(generate_series(0,
        |    greatest(0, cast(ceil((length(text)-120)/80.0) as bigint))))
        |    AS t(i)
        |), cum AS (
        |  SELECT lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM ch)
        |SELECT lang, cast(floor((c - 1) / 512.0) as bigint) AS seq_id,
        |  count(*) AS n_chunks, cast(sum(n_tokens) as bigint) AS seq_tokens
        |FROM cum GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin)),

    // The SPANS a trainer's cross-document attention mask needs from
    // the packed sequences: one row per packed chunk with its
    // within-sequence token offset. Same greedy packing as
    // pipeline_pack (a chunk belongs to the sequence holding its LAST
    // token; a boundary-straddling chunk's offset clamps to 0 — the
    // documented convention, deterministic on both engines). Shares
    // pipeline_pack's one window shuffle; nothing else moves.
    Query("pipeline_pack_spans", (s, d) => {
      val size = 120
      val stride = 80
      val nChunks = lit(1L) + greatest(lit(0L),
        ceil((length(col("text")) - lit(size)).cast("double") / stride)
          .cast("long"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("doc_id"), col("chunk_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("text"),
          nChunks.as("n_chunks"))
        .select(col("lang"), col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("n_tok", TextOps.tokenCount(
          col("text").substr(col("chunk_id").cast("int") * stride + 1,
            lit(size))))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id",
          floor((col("cum") - 1) / 512.0).cast("bigint"))
        .withColumn("start_in_seq", greatest(lit(0L),
          col("cum") - col("n_tok") - col("seq_id") * 512))
        .select(col("lang"), col("seq_id"), col("doc_id"), col("chunk_id"),
          col("start_in_seq"), col("n_tok"))
        .orderBy(col("lang"), col("seq_id"), col("doc_id"), col("chunk_id"))
    }, Sql(
      """WITH chunks AS (
        |  SELECT lang, doc_id, i AS chunk_id,
        |    cast(len(string_split(substring(text, cast(i * 80 + 1 as int),
        |      120), ' ')) as bigint) AS n_tok
        |  FROM documents,
        |       LATERAL unnest(generate_series(0,
        |         cast(greatest(0, ceil((len(text) - 120) / 80.0))
        |           as bigint))) AS t(i)),
        |cum AS (
        |  SELECT lang, doc_id, chunk_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang
        |      ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING) AS c
        |  FROM chunks)
        |SELECT lang,
        |  cast(floor((c - 1) / 512.0) as bigint) AS seq_id,
        |  doc_id, chunk_id,
        |  cast(greatest(0, c - n_tok -
        |    cast(floor((c - 1) / 512.0) as bigint) * 512) as bigint)
        |    AS start_in_seq,
        |  n_tok
        |FROM cum
        |ORDER BY lang, seq_id, doc_id, chunk_id""".stripMargin)),

    // GLOBAL concat-and-chunk packing manifest under the TRAINED BPE
    // tokenizer: every doc's pieces (+1 end-of-doc separator) land at
    // an absolute offset in one virtual token stream, cut into
    // 128-token training blocks. Unlike pipeline_shard/pipeline_pack
    // (per-language running sums, boundaries reset per key at scale),
    // the offset here is a TRUE global prefix sum with no global
    // window: PackOps.withGlobalOffset range-partitions the narrow
    // (doc_id, n_tok) manifest, runs per-partition windows, and
    // carries one bounded (pid, total) row per partition through the
    // driver — the dataloader-schedule view a trainer actually
    // addresses ("give me block k"). Token counts are the REAL
    // trained-tokenizer counts (codegen'd BPE encode), so the oracle
    // re-derives them from the raw corpus via the merge-table replay.
    Query("pipeline_pack_global", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", blockLen = 128L)
        .select(col("doc_id"), col("n_tok"), col("tok_start"),
          col("first_block"), col("last_block"), col("start_off"),
          col("n_blocks"))
        .orderBy(col("doc_id"))
    },
      // global packing under the trained tokenizer: per-doc token
      // counts re-derived from the raw corpus via the merge-table
      // replay, then window-cumsum'd into the block manifest
      Sql(packGlobalOracleSql)),

    // The block-side view of the same global packing: how many docs
    // land in each 128-token training block, rolled into a
    // docs-per-block histogram (n_blocks blocks hold exactly
    // docs_per_block document fragments, carrying n_tokens tokens).
    // The explode is bounded by total_tokens/128 rows; the histogram
    // aggregate is tiny. Certifies the span arithmetic end-to-end —
    // every block's fill must reconstruct to exactly 128 tokens
    // (except the final partial), or the hash check dies.
    Query("pipeline_pack_blocks", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      val spans = ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", blockLen = 128L)
      ops.PackOps.blockContributions(spans, "tok_start", "n_tok", 128L)
        .groupBy(col("block_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("block_tokens")).as("fill"))
        .groupBy(col("n_docs").as("docs_per_block"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("fill")).as("n_tokens"))
        .orderBy(col("docs_per_block"))
    }, Sql(packBlocksOracleSql)),

    // Deterministic dataloader EPOCH SHUFFLE over the global packing's
    // training blocks: block k's read position in epoch e is its rank
    // under the portable md5(e:k) hash — an unbiased per-epoch
    // permutation the trainer can replay anywhere, with NOTHING but
    // the (epoch, hash, block) manifest ever ordered (the corpus
    // itself never moves; "read block pos p of epoch e" is a manifest
    // lookup). The rank is PackOps.withGlobalOffset with a unit
    // length — range exchange + per-partition windows + one carry row
    // per partition — so there is no global window and no single-task
    // sort at any scale. Block count comes from ONE total-token
    // scalar through the driver (the bounded-exchange discipline).
    Query("pipeline_epoch_shuffle", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      val total = manifest.agg(sum(col("n_tok"))).collect()(0).getLong(0)
      val nBlocks = (total + 127L) / 128L
      ops.PackOps.epochOrder(
        s.range(0L, nBlocks).toDF("block_id"), "block_id",
        epochs = 3, n = nBlocks)
        .select(col("epoch"), col("block_id"), col("pos"))
        .orderBy(col("epoch"), col("block_id"))
    }, Sql(epochShuffleOracleSql)),

    // MIXTURE-REBALANCED packed training stream — the end-to-end
    // dataloader build composing pipeline_budget's sampling plan with
    // the global packing manifest. The plan is executed EXACTLY:
    // rate_l = weight_l·budget / avail_l stays an integer rational
    // (num_l = w_num·budget, den_l = 100·avail_l — never a float
    // rate), each language runs epochs_l = ceil(num/den) full passes,
    // and copy (doc, e) survives iff knuthHash(16·doc_id + e)/2^32 <
    // num/(den·epochs) — decided by DECIMAL(38,0) cross-multiplication
    // so no division ever happens and DuckDB replays it in HUGEINT.
    // Survivors pack into 128-token blocks via the same
    // withGlobalOffset exclusive scan as pipeline_pack_global, keyed
    // by the fixed-width (lang, doc_id, copy) string so the stream
    // order is total. At 100 TB: the plan is a languages-sized
    // broadcast, the explode factor is epochs (bounded by the max
    // upweight), the budget is one scalar aggregate, and the only
    // corpus-shaped exchange is the narrow manifest's range partition.
    Query("pipeline_mix_pack", (s, d) => {
      val docs = t(s, d, "documents")
      val wNum = when(col("lang") === "en", lit(40L))
        .when(col("lang") === "zh", lit(20L))
        .when(col("lang") === "fr", lit(15L))
        .when(col("lang") === "es", lit(15L))
        .otherwise(lit(10L))
      val manifest = docs.select(col("lang"), col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"))
      val budget = manifest.agg(sum(col("n_tok")))
        .collect()(0).getLong(0)
      val dec = org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)
      val plan = manifest.groupBy(col("lang"))
        .agg(sum(col("n_tok")).as("avail"))
        .withColumn("num", wNum * lit(budget))
        .withColumn("den", lit(100L) * col("avail"))
        .withColumn("epochs",
          ops.DedupOps.idiv(col("num") + col("den") - 1, col("den")))
      val sampled = manifest.join(broadcast(plan), Seq("lang"))
        .withColumn("copy_id",
          explode(sequence(lit(0L), col("epochs") - 1)))
        .filter(knuthHash(col("doc_id") * 16 + col("copy_id")).cast(dec)
          * col("den").cast(dec) * col("epochs").cast(dec)
          < col("num").cast(dec) * lit(4294967296L).cast(dec))
        .withColumn("okey", concat(rpad(col("lang"), 8, "_"),
          lpad(col("doc_id").cast("string"), 12, "0"),
          lpad(col("copy_id").cast("string"), 2, "0")))
        .select(col("okey"), col("lang"), col("doc_id"),
          col("copy_id"), col("n_tok"))
      ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(sampled, "okey", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", 128L)
        .select(col("lang"), col("doc_id"), col("copy_id"),
          col("n_tok"), col("tok_start"), col("first_block"),
          col("last_block"))
        .orderBy(col("lang"), col("doc_id"), col("copy_id"))
    },
      // the mixture plan EXECUTED exactly: HUGEINT rationals mirror the
      // Spark side's DECIMAL(38,0) cross-multiplication bit-for-bit,
      // the per-(doc, copy) keep rule re-runs the Knuth hash, and the
      // packing offsets are the window cumsum over the same fixed-width
      // (lang, doc_id, copy) key
      Sql(
      s"""WITH dm AS (
         |  SELECT lang, doc_id, ${TextOps.sql.tokenCount} AS n_tok
         |  FROM documents),
         |b AS (SELECT cast(sum(n_tok) AS BIGINT) AS budget FROM dm),
         |pl AS (
         |  SELECT lang, cast(sum(n_tok) AS BIGINT) AS avail
         |  FROM dm GROUP BY lang),
         |plan2 AS (
         |  SELECT lang,
         |    cast((CASE WHEN lang = 'en' THEN 40
         |               WHEN lang = 'zh' THEN 20
         |               WHEN lang = 'fr' THEN 15
         |               WHEN lang = 'es' THEN 15
         |               ELSE 10 END) AS HUGEINT) * budget AS num,
         |    cast(100 AS HUGEINT) * avail AS den
         |  FROM pl, b),
         |plan3 AS (
         |  SELECT lang, num, den,
         |    cast((num + den - 1) // den AS BIGINT) AS epochs
         |  FROM plan2),
         |cop AS (
         |  SELECT dm.lang, dm.doc_id, dm.n_tok, g.c AS copy_id,
         |    p.num, p.den, p.epochs
         |  FROM dm JOIN plan3 p USING (lang),
         |    LATERAL unnest(generate_series(0, p.epochs - 1)) g(c)),
         |kept AS (
         |  SELECT lang, doc_id, n_tok, copy_id FROM cop
         |  WHERE cast(${knuthHashSql("(doc_id * 16 + copy_id)")}
         |      AS HUGEINT) * den * cast(epochs AS HUGEINT)
         |    < num * cast(4294967296 AS HUGEINT)),
         |okey AS (
         |  SELECT lang, doc_id, copy_id, n_tok,
         |    rpad(lang, 8, '_') || lpad(cast(doc_id AS VARCHAR), 12, '0')
         |      || lpad(cast(copy_id AS VARCHAR), 2, '0') AS k
         |  FROM kept),
         |offs AS (
         |  SELECT lang, doc_id, copy_id, n_tok,
         |    cast(coalesce(sum(n_tok) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_start
         |  FROM okey)
         |SELECT lang, doc_id, copy_id, n_tok, tok_start,
         |  cast(tok_start // 128 AS BIGINT) AS first_block,
         |  cast((tok_start + n_tok - 1) // 128 AS BIGINT) AS last_block
         |FROM offs ORDER BY lang, doc_id, copy_id""".stripMargin)),

    // The pipeline's FINAL PRODUCT, content-certified: materialize
    // the packed 128-token training blocks THEMSELVES (not just their
    // offsets) — every doc's trained-BPE pieces plus a '</d>'
    // end-of-doc sentinel land at their global stream positions
    // (same +1 discipline as pipeline_pack_global, so the block
    // boundaries are identical), and each block emits the md5 of its
    // space-joined pieces: the write-the-training-data job, certified
    // cross-engine without the driver ever seeing text (the
    // dedup_segments discipline). At 100 TB this is inherently
    // corpus-sized — ONE shuffle keyed by block_id with per-block
    // in-memory sorts of <= 128 pieces (vs a global sort of the token
    // stream); everything upstream is the certified offset machinery.
    Query("pipeline_pack_export", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val toks = docs.select(col("doc_id"),
        concat(BpeOps.encode(col("text"), bpe),
          array(lit("</d>"))).as("pieces"))
      val manifest = toks.withColumn("n_tok",
        size(col("pieces")).cast("long"))
      ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start")
        .select(col("tok_start"), posexplode(col("pieces")))
        .withColumnRenamed("col", "piece")
        .withColumn("gpos", col("tok_start") + col("pos"))
        .withColumn("block_id",
          ops.DedupOps.idiv(col("gpos"), lit(128L)))
        .groupBy(col("block_id"))
        .agg(count(lit(1)).as("n_pieces"),
          md5(concat_ws(" ",
            transform(
              array_sort(collect_list(struct(col("gpos"),
                col("piece")))),
              x => x.getField("piece")))).as("block_md5"))
        .orderBy(col("block_id"))
    }, Sql(packExportOracleSql)),

    // Fill-in-the-middle span manifest (Bavarian et al. 2022): for
    // each document, a deterministic coin decides whether it trains
    // as FIM (rate 1/2), and two hash lanes pick the split points
    // u, v uniform over 0..n (sorted), giving prefix|middle|suffix
    // token lengths under the TRAINED BPE tokenizer — the per-doc
    // transform manifest a PSM/SPM dataloader consumes. Everything is
    // integer/hash arithmetic on the (doc_id, n_tok) manifest: the
    // coin is knuthHash(4·doc+1) < 2^31, the splits are
    // knuthHash(4·doc+2/3) mod (n+1) — three independent lanes from
    // one portable hash, replayed verbatim by the oracle on top of
    // the BPE merge-table token recount. Map-side only at any scale.
    Query("pipeline_fim_spans", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val lenOf = docs.select(col("doc_id"),
        size(BpeOps.encode(col("text"), bpe)).cast("long").as("n_tok"))
      val fim = knuthHash(col("doc_id") * 4 + 1) < lit(2147483648L)
      val u = pmod(knuthHash(col("doc_id") * 4 + 2), col("n_tok") + 1)
      val v = pmod(knuthHash(col("doc_id") * 4 + 3), col("n_tok") + 1)
      lenOf
        .withColumn("fim", fim)
        .withColumn("lo", least(u, v))
        .withColumn("hi", greatest(u, v))
        .select(col("doc_id"), col("n_tok"), col("fim"),
          when(col("fim"), col("lo")).otherwise(col("n_tok"))
            .as("prefix_len"),
          when(col("fim"), col("hi") - col("lo")).otherwise(lit(0L))
            .as("middle_len"),
          when(col("fim"), col("n_tok") - col("hi")).otherwise(lit(0L))
            .as("suffix_len"))
        .orderBy(col("doc_id"))
    }, Sql(fimSpansOracleSql)),

    // T5/UL2 span-corruption manifest (Raffel et al. 2020): per
    // document, corrupt 15% of the trained-BPE content tokens as
    // n_spans = ceil(n_noise/3) non-overlapping noise spans (mean
    // length ~3). Span LENGTHS are the deterministic balanced split
    // (base = n_noise div n_spans, the remainder spread over the
    // first spans in sorted order); span PLACEMENT is stars-and-bars
    // via sorted uniform hash draws — n_spans draws over 0..n_keep
    // from a nested-Knuth per-doc lane stream, sorted, become the
    // keep-token gaps, so span k starts at draw_sorted(k) + the noise
    // already placed (closed form: k·base + min(k, rem), no cumsum).
    // Everything after the encode is integer/hash arithmetic plus ONE
    // window partitioned by doc_id whose partitions are bounded by
    // spans-per-doc (≤ n/20 + 1) — map-shaped at 100 TB. Docs whose
    // 15% rounds to zero noise tokens emit no spans, by construction
    // on both engines.
    Query("pipeline_t5_spans", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val lens = docs.select(col("doc_id"),
        size(BpeOps.encode(col("text"), bpe)).cast("long").as("n_tok"))
      val base = lens
        .withColumn("n_noise",
          ops.DedupOps.idiv(col("n_tok") * 15, lit(100L)))
        .filter(col("n_noise") >= 1)
        .withColumn("n_spans",
          ops.DedupOps.idiv(col("n_noise") + 2, lit(3L)))
        .withColumn("n_keep", col("n_tok") - col("n_noise"))
      val lane = knuthHash(
        knuthHash(col("doc_id") * 2 + 1) + col("draw_id"))
      val drawn = base
        .select(col("doc_id"), col("n_tok"), col("n_noise"),
          col("n_spans"), col("n_keep"),
          explode(sequence(lit(0L), col("n_spans") - 1)).as("draw_id"))
        .withColumn("draw", pmod(lane, col("n_keep") + 1))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("draw"), col("draw_id"))
      drawn
        .withColumn("k", row_number().over(w).cast("long") - 1)
        .withColumn("b", ops.DedupOps.idiv(col("n_noise"), col("n_spans")))
        .withColumn("rem", pmod(col("n_noise"), col("n_spans")))
        .select(col("doc_id"), col("n_tok"), col("n_noise"),
          col("n_spans"), col("k").as("span_id"),
          (col("draw") + col("k") * col("b") +
            least(col("k"), col("rem"))).as("span_start"),
          (col("b") + when(col("k") < col("rem"), lit(1L))
            .otherwise(lit(0L))).as("span_len"))
        .orderBy(col("doc_id"), col("span_id"))
    }, Sql(t5SpansOracleSql)),

    // UL2 mixture-of-denoisers manifest (Tay et al. 2022): each doc
    // draws ONE denoiser class by hash lane — R (regular span
    // corruption: rate 15%, mean span 3; probability 1/2), S
    // (sequential / prefix-LM: one split point, the suffix is the
    // target; 1/4), X (extreme: rate 50%, mean span 32; 1/4) — and
    // emits its class's span rows. R and X share the pipeline_t5_spans
    // stars-and-bars construction with the (rate, mean, lane-salt)
    // parameters riding as columns, so ONE code path serves both; S is
    // a single hash-lane split (a zero-length suffix is a legal empty
    // target). Same physical shape as t5_spans: map-side integer/hash
    // arithmetic + one doc-bounded window.
    Query("pipeline_ul2_spans", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      // the BPE encode is the query's one expensive kernel and lens
      // feeds BOTH denoiser branches of the final union — materialize
      // it once (24-byte rows) with the encode pass fanned out, instead
      // of paying a second full single-task encode per branch
      val lens = ops.StorageOps.fanOutForKernel(
          docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          size(BpeOps.encode(col("text"), bpe)).cast("long").as("n"))
        .filter(col("n") >= 1)
        // class draw from the hash's TOP two bits (div 2^30): the low
        // bits of a multiplicative hash of a fixed-stride input are
        // constant (8·doc+7 ≡ 3 mod 4, multiplier ≡ 1 mod 4 ⇒
        // hash ≡ 3 mod 4 for every doc) — `% 4` would put the whole
        // corpus in one class
        .withColumn("dcode", ops.DedupOps.idiv(
          knuthHash(col("doc_id") * 8 + 7), lit(1073741824L)))
        .localCheckpoint(true)
      val sBranch = lens.filter(col("dcode") === 2)
        .withColumn("u", pmod(knuthHash(col("doc_id") * 8 + 6),
          col("n") + 1))
        .select(col("doc_id"), lit("S").as("denoiser"),
          col("n").as("n_tok"), (col("n") - col("u")).as("n_noise"),
          lit(1L).as("n_spans"), lit(0L).as("span_id"),
          col("u").as("span_start"), (col("n") - col("u")).as("span_len"))
      val rxLane = knuthHash(
        knuthHash(col("doc_id") * 8 + col("salt")) + col("draw_id"))
      val rxBase = lens.filter(col("dcode") =!= 2)
        .withColumn("denoiser",
          when(col("dcode") <= 1, lit("R")).otherwise(lit("X")))
        .withColumn("rate",
          when(col("dcode") <= 1, lit(15L)).otherwise(lit(50L)))
        .withColumn("mean",
          when(col("dcode") <= 1, lit(3L)).otherwise(lit(32L)))
        .withColumn("salt",
          when(col("dcode") <= 1, lit(3L)).otherwise(lit(5L)))
        .withColumn("n_noise",
          ops.DedupOps.idiv(col("n") * col("rate"), lit(100L)))
        .filter(col("n_noise") >= 1)
        .withColumn("n_spans",
          ops.DedupOps.idiv(col("n_noise") + col("mean") - 1, col("mean")))
        .withColumn("n_keep", col("n") - col("n_noise"))
      val drawn = rxBase
        .select(col("doc_id"), col("denoiser"), col("n"), col("salt"),
          col("n_noise"), col("n_spans"), col("n_keep"),
          explode(sequence(lit(0L), col("n_spans") - 1)).as("draw_id"))
        .withColumn("draw", pmod(rxLane, col("n_keep") + 1))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("draw"), col("draw_id"))
      val rxBranch = drawn
        .withColumn("k", row_number().over(w).cast("long") - 1)
        .withColumn("b", ops.DedupOps.idiv(col("n_noise"), col("n_spans")))
        .withColumn("rem", pmod(col("n_noise"), col("n_spans")))
        .select(col("doc_id"), col("denoiser"), col("n").as("n_tok"),
          col("n_noise"), col("n_spans"), col("k").as("span_id"),
          (col("draw") + col("k") * col("b") +
            least(col("k"), col("rem"))).as("span_start"),
          (col("b") + when(col("k") < col("rem"), lit(1L))
            .otherwise(lit(0L))).as("span_len"))
      rxBranch.unionByName(sBranch)
        .orderBy(col("doc_id"), col("span_id"))
    }, Sql(ul2SpansOracleSql)),

    // Cluster-balanced diversity subsample (SemDedup/DSIR-style
    // domain capping): assign every embedding to its trained IVF cell
    // (map-side argmax over broadcast centroid literals), then keep at
    // most 16 per cell by deterministic hash rank — the cap that stops
    // one over-represented domain from flooding a training mix. The
    // per-cell top-k runs through the bounded TopK Aggregator, so each
    // partition ships at most k candidates per cell to the merge (an
    // O(partitions × k) shuffle; a window would move every row of the
    // hottest cluster to one task — the exact skew this query exists
    // to manage).
    Query("pipeline_cluster_balance", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = ops.AnnOps.cachedIvf(s, s"$d/embeddings.parquet", emb,
        "vec_id", "embedding", nlist = 8)
      val asg = ops.AnnOps.assignCells(emb, "vec_id", "embedding", model)
      import s.implicits._
      val sizes = asg.groupBy(col("cid"))
        .agg(count(lit(1)).as("cl_size"))
      // score = -hash: TopK keeps highest-score-first == lowest hash,
      // ties (hash collisions) broken by lowest vec_id — the same
      // (hash, id) lexicographic rank the oracle's window replays.
      // Hashes are < 2^32, exact as Doubles.
      val scored = asg.select(col("cid"),
          (lit(0L) - knuthHash(col("vec_id"))).cast("double").as("score"),
          col("vec_id")).as[(Int, Double, Long)]
      val topk = new graft.functions.Aggregators.TopK(16)
      scored.groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(topk.toColumn.name("topk")).toDF("cid", "topk")
        .select(col("cid"), posexplode(col("topk")))
        .select(col("cid"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col._2").as("vec_id"))
        .join(sizes, Seq("cid"))
        .select(col("cid").cast("bigint").as("cid"), col("vec_id"),
          col("rank"), col("cl_size"))
        .orderBy(col("cid"), col("rank"))
    }, Sql(clusterBalanceOracleSql)),

    // Vocabulary-pruning decision table: for each trained-BPE merge
    // rule, its piece's FINAL-PIECE frequency in the encoded corpus
    // and whether the rule survives the prune (kept iff the piece
    // carries ≥ 0.1% of all encoded tokens — merges whose outputs are
    // consumed by later merges or back rare words waste vocab slots a
    // production tokenizer reclaims). One corpus scan: encode +
    // explode + map-side-combine count collapses to the piece
    // vocabulary (bounded by merges + alphabet, KB-sized), everything
    // after is broadcast-joined. The oracle re-derives every
    // frequency from the raw corpus via the merge-table replay and
    // re-applies the threshold.
    Query("text_vocab_prune", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      import s.implicits._
      val freqs = docs
        .select(explode(BpeOps.encode(col("text"), bpe)).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("freq"))
      val total = freqs.agg(sum(col("freq")).as("total"))
      val merges = bpe.lefts.zip(bpe.rights).zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l + r) }.toSeq
        .toDF("rank", "piece")
      merges.join(broadcast(freqs), Seq("piece"), "left")
        .crossJoin(broadcast(total))
        .select(col("rank"), col("piece"),
          coalesce(col("freq"), lit(0L)).as("freq"),
          (coalesce(col("freq"), lit(0L)) * 1000 >= col("total"))
            .as("kept"))
        .orderBy(col("rank"))
    }, Sql(vocabPruneOracleSql)),

    // Document-boundary-respecting packing (sample packing / no
    // cross-document attention): next-fit the trained-BPE token
    // counts into 128-token blocks where documents stay whole —
    // a doc that doesn't fit the current block's remainder closes it
    // (remainder becomes measured padding; see
    // pipeline_pack_padding), a doc longer than a block spans its own
    // consecutive blocks. The sequential walk distributes over
    // FIXED-SIZE 64-doc id buckets (deterministic arithmetic
    // boundaries, never a sampled range cut) and bucket block ranges
    // concatenate via a withGlobalOffset exclusive scan — scalable
    // past millions of buckets because the driver only ever sees one
    // row per PARTITION of the bucket-totals frame.
    Query("pipeline_pack_greedy", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      ops.PackOps.nextFitPack(manifest, "doc_id", "n_tok",
        blockLen = 128L, bucketSize = 64L)
        .select(col("bucket"), col("id").as("doc_id"),
          col("len").as("n_tok"), col("first_block"), col("last_block"),
          col("start_off"))
        .orderBy(col("doc_id"))
    }, Sql(packGreedyOracleSql)),

    // The padding bill for the document-boundary packing, per bucket:
    // blocks used, tokens carried, and pad_tokens = capacity - tokens
    // (counts both the next-fit remainders and each bucket's final
    // partial block — exactly the cost the layout trades for whole
    // documents; compare q_profile-style against pipeline_pack_blocks'
    // zero-padding concat-and-chunk). Tiny aggregate over the greedy
    // manifest; certifies the walk's block accounting independently
    // of the per-doc rows.
    Query("pipeline_pack_padding", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      ops.PackOps.nextFitPack(manifest, "doc_id", "n_tok",
        blockLen = 128L, bucketSize = 64L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("n_tokens"),
          (max(col("last_block")) - min(col("first_block")) + 1L)
            .as("n_blocks"),
          ((max(col("last_block")) - min(col("first_block")) + 1L)
            * 128L - sum(col("len"))).as("pad_tokens"))
        .orderBy(col("bucket"))
    }, Sql(packPaddingOracleSql)),

    // Quality CURRICULUM over the global packing's training blocks:
    // each block's quality is the token-weighted mean of the trained
    // quality classifier's doc scores over the block's fragments, and
    // the curriculum is the descending-quality read order (highest
    // quality first; the schedule a quality-ordered training run
    // consumes). The probability is micro-quantized to an exact
    // integer right after the classifier's own round-to-6dp, so every
    // downstream step — token-weighted sums, the per-full-block
    // normalization (wsum*128 div fill, exact for every interior
    // block), the rank — is integer arithmetic with no float
    // accumulation anywhere. The rank is withGlobalOffset with unit
    // lengths over a fixed-width key (no global window); the corpus
    // moves once (fragment join on doc_id), the schedule manifest is
    // all that's ordered.
    Query("pipeline_curriculum", (s, d) =>
      curriculumBlocks(s, d).orderBy(col("block_id")),
      Sql(curriculumOracleSql)),

    // Curriculum ANNEALING — the schedule curriculum learning
    // actually ships: epoch 0 reads the packed blocks in
    // descending-quality curriculum order (the warmup), every later
    // epoch reads them in its own deterministic md5 shuffle (IID
    // training once the model is past the warmup). Composes the two
    // certified rank machineries verbatim: epoch 0's positions ARE
    // pipeline_curriculum's cur_rank; epochs 1..2 are
    // pipeline_epoch_shuffle's md5 ranks (one withGlobalOffset pass
    // ranks all epochs; epoch 0's unused shuffle lane is filtered
    // out without disturbing the others' positions). Ordering is
    // manifest-only at any scale — the corpus never moves.
    Query("pipeline_curriculum_anneal", (s, d) => {
      val cur = curriculumBlocks(s, d).localCheckpoint(true)
      val nBlocks = cur.count()
      val ep0 = cur.select(lit(0L).as("epoch"), col("block_id"),
        col("cur_rank").as("pos"))
      val shuf = ops.PackOps.epochOrder(
        cur.select(col("block_id")), "block_id", epochs = 3,
        n = nBlocks)
        .filter(col("epoch") >= 1)
        .select(col("epoch"), col("block_id"), col("pos"))
      ep0.unionByName(shuf).orderBy(col("epoch"), col("block_id"))
    }, Sql(curriculumAnnealOracleSql)),

    // Cross-document repeated-span detection: word 8-grams appearing
    // in >= 2 distinct documents — the repeated-substring signal that
    // surfaces boilerplate and near-duplicate passages (the planted
    // near-dups in this corpus light it up). All codegen'd built-ins
    // (split / transform / slice / array_join); the df-style HAVING
    // n_docs >= 2 prunes the long unique tail before the top-k, and at
    // 100 TB the gram string is replaced by its xxhash64 so the
    // shuffle moves 8-byte keys (same trade as dedup_canonical,
    // documented in PLANS.md).
    Query("dedup_substrings", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8) // Spark sequence() would reverse
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("w")) - 8),
          i => array_join(slice(col("w"), i + lit(1), lit(8)), " ")))
          .as("gram"))
        .groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n").desc, col("gram"))
        .limit(50)
    }, Sql(
      """WITH g AS (
        |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents) d,
        |       LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin)),

    // The 100-TB variant of dedup_substrings promised in PLANS.md /
    // SURVEY §8.5: the counting shuffle moves xxhash64(gram) LONGS (8
    // bytes/key), never gram strings. Exemplar text is recovered only
    // for the survivors (n_docs >= 2): a second narrow gram pass is
    // semi-joined against the broadcast survivor hash set map-side, so
    // the only strings that ever shuffle are survivors' — on a
    // boilerplate-shaped corpus a tiny fraction of the gram stream.
    // The sort/limit runs AFTER text recovery so the (n DESC, gram)
    // tiebreak is identical to the exact query — the hash changes what
    // SHUFFLES, not what returns. The oracle is the IDENTICAL SQL as
    // dedup_substrings: a 64-bit collision would merge two grams'
    // counts and hash-mismatch, so the oracle also certifies
    // collision-freedom on this corpus.
    Query("dedup_substrings_hashed", (s, d) => {
      def grams = tk(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("w")) - 8),
          i => array_join(slice(col("w"), i + lit(1), lit(8)), " ")))
          .as("gram"))
      val survivors = grams
        .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
        .groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n"))
        .filter(col("n_docs") >= 2)
      grams.join(broadcast(survivors), xxhash64(col("gram")) === col("gh"))
        .groupBy(col("gh"))
        .agg(first(col("gram")).as("gram"), // one string per 64-bit hash
          first(col("n_docs")).as("n_docs"), first(col("n")).as("n"))
        .select(col("gram"), col("n_docs"), col("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(50)
    },
      // identical oracle as dedup_substrings: the hashed plan must
      // return byte-identical results (the hash is plan-internal)
      Sql(
      """WITH g AS (
        |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents) d,
        |       LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin)),

    // Exact duplicated-SPAN excision (the ExactSubstr shape of Lee et
    // al. '22, arXiv:2107.06499): remove from every document every
    // token position covered by a duplicated span of >= 8 tokens.
    // Instead of a monolithic suffix array, use the distributed-native
    // reduction: a span of s >= L tokens is duplicated iff all of its
    // s-L+1 L-token windows are duplicated, so the union of duplicated
    // L-gram windows IS the union of duplicated maximal spans — interval
    // merging comes free from the covered-index set union. Differs from
    // the paper in one deliberate way: ALL occurrences are excised (not
    // all-but-one), which keeps the result deterministic without
    // electing a survivor occurrence.
    //
    // Scale shape: the counting shuffle moves xxhash64 longs (the
    // oracle counts gram STRINGS, so a 64-bit collision would
    // hash-mismatch — the oracle certifies collision-freedom); the
    // covered-index aggregation shuffles (doc_id, idx) ints only for
    // docs that contain duplicated windows; reconstruction is one
    // left join + a map-side higher-order filter over the token array.
    // No suffix ever shuffles; nothing driver-side.
    Query("dedup_span_excise", (s, d) =>
      ops.DedupOps.spanExcise(t(s, d, "documents"), "doc_id", "text", 8),
      // exact (string-counted) mirror of the hashed span-excision plan;
      // cov idx is 0-based to match Spark's lambda index
      Sql(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN dup USING (gram),
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

    // The intervals dedup_span_excise removes, reported explicitly:
    // maximal duplicated spans per document (gaps-and-islands merge of
    // covered positions), each with start/length/content-md5. The
    // oracle mirrors the merge with the identical window arithmetic
    // over gram STRINGS — hash-green certifies both the interval
    // algebra and the excision op's hashed candidate front.
    Query("dedup_span_maximal", (s, d) =>
      ops.DedupOps.spanIntervals(tk(s, d, "documents"), "doc_id", "text", 8),
      Sql(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN dup USING (gram),
        |       LATERAL unnest(generate_series(0, 7)) AS u(j)),
        |isl AS (
        |  SELECT doc_id, idx,
        |    idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, min(idx) AS span_start, count(*) AS span_len
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT sp.doc_id,
        |  cast(span_start as bigint) AS span_start,
        |  cast(span_len as bigint) AS span_len,
        |  md5(array_to_string(
        |    w[cast(span_start + 1 as int) :
        |      cast(span_start + span_len as int)], ' ')) AS span_md5
        |FROM sp JOIN toks ON sp.doc_id = toks.doc_id
        |ORDER BY sp.doc_id, span_start""".stripMargin)),

    // Corpus duplication-rate audit: per-language share of tokens
    // inside duplicated spans — the go/no-go statistic a dedup run
    // reports before anyone pays for span excision at full scale.
    Query("dedup_span_stats", (s, d) => {
      val docs = tk(s, d, "documents")
      ops.DedupOps.spanCounts(docs, "doc_id", "text", 8)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tot_tokens"),
          sum(col("n_removed")).as("dup_tokens"),
          round(sum(col("n_removed")).cast("double") /
            sum(col("n_tokens")).cast("double"), 6).as("dup_rate"),
          sum(when(col("n_removed") > 0, 1L).otherwise(0L))
            .as("n_docs_affected"))
        .orderBy(col("lang"))
    }, Sql(
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN dup USING (gram),
        |       LATERAL unnest(generate_series(0, 7)) AS u(j)),
        |ncov AS (
        |  SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT lang, count(*) AS n_docs,
        |  cast(sum(len(w)) as bigint) AS tot_tokens,
        |  cast(sum(coalesce(n_removed, 0)) as bigint) AS dup_tokens,
        |  round(sum(coalesce(n_removed, 0)) * 1.0 / sum(len(w)), 6)
        |    AS dup_rate,
        |  cast(sum(CASE WHEN coalesce(n_removed, 0) > 0 THEN 1 ELSE 0 END)
        |    as bigint) AS n_docs_affected
        |FROM toks LEFT JOIN ncov USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Longest repeated substring via the distributed prefix-doubling
    // suffix ARRAY (SuffixArrayOps — the §8.5b literal-index path;
    // dedup_span_excise remains the fixed-L production path). Runs on
    // a bounded 50-doc slice: the build is log₂(depth) co-keyed
    // self-joins + the scale-correct distributed dense rank (per-
    // partition summaries, no global window); rows-only —
    // SuffixArraySpec anchors the array against a reference sort and
    // the LRS against a planted repeat.
    Query("dedup_suffix_lrs", (s, d) =>
      ops.SuffixArrayOps.longestRepeat(
        t(s, d, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", maxLen = 128, numParts = 8),
      // Mirrors SuffixArrayOps.longestRepeat without the distributed SA:
      // at oracle scale DuckDB can afford the global sort the Spark side
      // exists to avoid — lag() over lexicographically-sorted truncated
      // suffixes IS the SA adjacency (binary collation == codepoint
      // order == the prefix-doubling rank order), the max adjacent lcp
      // is the LRS length, the winner is the minimal best-length prefix
      // among max-lcp pairs (Spark's orderBy(r).limit(1) tiebreak), and
      // n_positions counts suffixes carrying the winning prefix.
      Sql(
      """WITH pos AS (
        |  SELECT substring(text, i, 128) AS s
        |  FROM (SELECT text FROM documents WHERE doc_id < 50) d,
        |       LATERAL unnest(generate_series(1, len(text))) AS t(i)),
        |lcps AS (
        |  SELECT least(len(list_filter(range(1, 129),
        |      i -> substring(s, 1, i) = substring(prev, 1, i))),
        |    len(s), len(prev)) AS lcp, s
        |  FROM (SELECT s, lag(s) OVER (ORDER BY s) AS prev FROM pos)
        |  WHERE prev IS NOT NULL),
        |best AS (SELECT max(lcp) AS lrs_len FROM lcps),
        |winner AS (
        |  SELECT min(substring(s, 1, (SELECT lrs_len FROM best))) AS r
        |  FROM lcps WHERE lcp = (SELECT lrs_len FROM best))
        |SELECT cast((SELECT lrs_len FROM best) as bigint) AS lrs_len,
        |  md5((SELECT r FROM winner)) AS lrs_md5,
        |  cast((SELECT count(*) FROM pos, winner
        |        WHERE substring(s, 1, (SELECT lrs_len FROM best)) = r)
        |    as bigint) AS n_positions""".stripMargin)),

    // General-L repeated-span report answered from the PERSISTED
    // suffix-array artifact: cachedSuffixArray stores (doc_id, off,
    // sa_rank) as a parquet artifact of the corpus (ops.StorageOps),
    // so every call after the first — and
    // every new L — is a parquet scan plus one boundary-exchange
    // adjacency pass, ZERO prefix-doubling jobs (job-count-gated in
    // SuffixArraySpec). Rows-only: span content reports as md5.
    Query("dedup_suffix_spans", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 50)
      val sa = ops.SuffixArrayOps.cachedSuffixArray(s,
        s"$d/documents.parquet", "lt50", docs, "doc_id", "text",
        maxLen = 128, numParts = 8)
      ops.SuffixArrayOps.repeatedSpans(sa, docs, "doc_id", "text",
        minLen = 24, maxLen = 128, numParts = 8)
    },
      // Mirrors SuffixArrayOps.repeatedSpans without building a suffix
      // array: a >=24-char repeated span IS a 24-char suffix prefix
      // shared by >= 2 positions (the SA run and the prefix group are
      // the same set by contiguity), and the run's span_len — its
      // minimum ADJACENT lcp in SA order — equals lcp(min, max) of the
      // codepoint-sorted group, computed here by the monotone
      // prefix-equality count (capped by both string lengths so an
      // identical-truncated-suffix group reports its true length).
      Sql(
      """WITH pos AS (
        |  SELECT substring(text, i, 128) AS s
        |  FROM (SELECT text FROM documents WHERE doc_id < 50) d,
        |       LATERAL unnest(generate_series(1, len(text))) AS t(i)),
        |g AS (
        |  SELECT substring(s, 1, 24) AS p, count(*) AS n_positions,
        |         min(s) AS lo, max(s) AS hi
        |  FROM pos WHERE len(s) >= 24
        |  GROUP BY p HAVING count(*) >= 2)
        |SELECT md5(p) AS span_md5,
        |  cast(least(
        |    len(list_filter(range(1, 129),
        |      i -> substring(lo, 1, i) = substring(hi, 1, i))),
        |    len(lo), len(hi)) as bigint) AS span_len,
        |  cast(n_positions as bigint) AS n_positions
        |FROM g ORDER BY n_positions DESC, span_md5""".stripMargin)),

    // INCREMENTAL ingest of a new shard against an existing corpus —
    // the flow a live 100-TB pipeline runs per arriving batch, as one
    // declared query with per-stage accounting: (1) exact dedup, both
    // within the batch (first occurrence wins) and against the corpus
    // md5 set; (2) SEGMENT EXCISION against the corpus's 16-token
    // segment inventory (the batch twin of the streaming
    // segmentGateStream — survivors keep only corpus-novel segments,
    // docs cleaned to nothing drop); (3) quality gate on the CLEANED
    // text (token floor + mean-word-length band); (4) n-gram
    // decontamination of the cleaned text against the eval slice.
    // Every stage is exact, so the whole composition — including the
    // per-stage survivor counts and id sums — is replayed by the
    // oracle. Wire discipline: the corpus sides reduce to md5/segment
    // hash SETS before any join; the only text-shaped work is
    // row-local segmentation and reassembly. The gate is
    // IngestOps.gateBatch, run here against hash sets derived from the
    // corpus text on every call. The stages stay lazy: the five
    // accounting branches share their gating prefix through exchange
    // reuse in one plan, which costs fewer jobs than pinning stages.
    Query("pipeline_ingest", (s, d) => {
      val docs = t(s, d, "documents")
      val corpus = ingestCorpus(docs)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      ingestReport(incoming, ops.IngestOps.gateBatch(incoming,
        ops.IngestOps.docMd5s(corpus, "text"),
        ops.IngestOps.docSegments(corpus, "text"), "doc_id", "text",
        Some(ingestEvalGrams(corpus))))
    },
      // The incremental-ingest composition replayed stage by stage:
      // exact dedup (row_number first-wins + corpus md5 set), segment
      // excision against the corpus segment inventory, cleaned-text
      // quality band in integer rational arithmetic, n-gram decon of
      // the cleaned text — per-stage counts and id sums all certified.
      Sql(ingestOracleSql)),

    // The SAME ingest composition against the PERSISTED inventory
    // artifact (ops.IngestOps): the corpus md5 set and 16-token
    // segment inventory are built ONCE per corpus bytes (a parquet
    // artifact, ops.StorageOps) and every
    // later batch reads only hash-compact inventory files plus the
    // batch itself — no stored corpus text is re-scanned
    // (IngestOpsSpec gates the second batch's inputFiles against the
    // corpus source). Results are identical to the full-recompute
    // pipeline_ingest by construction, so this entry shares its
    // DuckDB oracle — the cross-engine check certifies the artifact
    // path end-to-end.
    Query("pipeline_ingest_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val corpus = ingestCorpus(docs)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val key = ops.IngestOps.cachedInventory(s,
        s"$d/documents.parquet", "ing5", corpus, "text")
      ingestReport(incoming, ops.IngestOps.ingestBatch(s, key, incoming,
        "doc_id", "text", Some(ingestEvalGrams(corpus)),
        materializeStages = true))
    },
      // identical result by construction (see the pipeline_ingest_incr
      // query comment): the artifact-backed flow shares the oracle
      Sql(ingestOracleSql)),

    // ★ r10: the STREAMING END-TO-END ingest loop as a declared,
    // oracle-replayed query — ONE continuous Structured Streaming
    // query (file source, Trigger.AvailableNow, maxFilesPerTrigger=1)
    // drains two arriving batches through
    // [[graft.streaming.IngestLoop]]: each micro-batch is gated
    // through all four ingest stages against the PERSISTED
    // inventories, its accepted docs are MERGED before the next batch
    // arrives, and per-batch stage accounting is emitted. Batch b1
    // RE-DELIVERS half of batch b0, so at EVERY scale factor some b1
    // docs are accepted-in-b0 re-arrivals that die against the merged
    // inventory — the DuckDB oracle replays both batches sequentially
    // against the states the merges left behind, so it certifies the
    // composition (gate → merge → gate), not the stages in isolation.
    // The inventory is cloned per run (the loop mutates it); batch
    // inputs are content-signature-cached with strictly increasing
    // mtimes so the file source's timestamp order delivers them as two
    // micro-batches in arrival order (a mixed batch fails loud via the
    // loop's tag-purity check on the `arrival` column).
    Query("pipeline_ingest_stream", (s, d) => {
      val r = new IngestLoopRun(s, d, "ingstream")
      val inDir = ops.StorageOps.artifactPath(s, s"$d/documents.parquet",
        "ingstream")
      ops.StorageOps.publish(inDir) { tmp =>
        val t0 = System.currentTimeMillis() - 120000
        r.arrivals.zipWithIndex.foreach { case ((tag, b), i) =>
          b.withColumn("arrival", lit(tag))
            .coalesce(1).write.parquet(s"$tmp/$tag")
          new java.io.File(s"$tmp/$tag").listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(_.setLastModified(t0 + 60000L * i))
        }
      }
      val loop = new graft.streaming.IngestLoop(s, r.key, "doc_id", "text",
        Some(r.evalGrams), wp = Some(r.wp), bpe = Some(r.bpe))
      val ckpt = ops.StorageOps.scratchPath(s"ingstream_ckpt_${r.run}")
      val streamSchema = org.apache.spark.sql.types.StructType(
        r.docs.schema.fields :+ org.apache.spark.sql.types.StructField(
          "arrival", org.apache.spark.sql.types.StringType))
      val stream = s.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/b*")
      val q = loop.start(stream, col("arrival"), ckpt)
      q.awaitTermination()
      // reports are driver-local bounded rows; the per-run mutable
      // artifacts (merged inventory, stream checkpoint) are garbage
      // once the loop ends — drop them so repeated runs don't pile up
      ops.IngestOps.dropInventory(r.key)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      loop.stageReport.orderBy(col("batch"), col("stage"))
    },
      // the streaming loop replayed batch-by-batch against the merged
      // inventory states — see ingestStreamOracleSql; its drift
      // emission replayed over the accepted text per batch
      Sql(ingestStreamOracleSql)),

    // ★ r10: the ingest loop's DRIFT EMISSION as its own
    // oracle-certified query — the same two-batch loop (batch-twin
    // processBatch calls: identical code path, spec-gated equal to
    // the streaming run) reporting the tokenizer-drift metrics over
    // each batch's ACCEPTED text under the shipped frozen models.
    // The oracle composes the ingest-stream replay (which re-derives
    // the accepted clean text per batch against the merged inventory
    // states) with the tokenizer-drift machinery — certifying the
    // loop's third output end-to-end: gate, merge, AND drift.
    Query("pipeline_ingest_drift", (s, d) => {
      val r = new IngestLoopRun(s, d, "ingdrift")
      val loop = new graft.streaming.IngestLoop(s, r.key, "doc_id", "text",
        Some(r.evalGrams), wp = Some(r.wp), bpe = Some(r.bpe))
      r.arrivals.foreach { case (tag, b) => loop.processBatch(b, tag) }
      ops.IngestOps.dropInventory(r.key)
      loop.driftReport.orderBy(col("batch"))
    }, Sql(ingestDriftOracleSql)),

    // ★ r10: INCREMENTAL PACK MANIFEST from the ingest loop — each
    // accepted batch extends the global token stream at the stored
    // total (the restart-safe driver long recovered from the artifact
    // itself), so arriving data gets training-block offsets with
    // batch-sized work: no corpus re-read, no re-offsetting of the
    // existing manifest, ever. Same two-batch loop as
    // pipeline_ingest_drift (the merge between batches shapes WHICH
    // docs get offsets); the oracle composes the full ingest replay
    // (accepted clean text per batch against the merged inventory
    // states) with the BPE merge-table replay for per-doc piece counts
    // and the (batch, doc_id)-ordered cumsum — certifying gate ->
    // merge -> gate -> tokenize -> offset as ONE composition.
    Query("pipeline_pack_incr", (s, d) => {
      val r = new IngestLoopRun(s, d, "packincr")
      val packDir = ops.StorageOps.scratchPath(s"packincr_${r.run}")
      val loop = new graft.streaming.IngestLoop(s, r.key, "doc_id", "text",
        Some(r.evalGrams), bpe = Some(r.bpe),
        packManifestDir = Some(packDir))
      r.arrivals.foreach { case (tag, b) => loop.processBatch(b, tag) }
      // pin the manifest before the per-run artifacts are dropped
      val res = loop.packManifest
        .orderBy(col("batch"), col("doc_id")).localCheckpoint(true)
      ops.IngestOps.dropInventory(r.key)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(packDir))
      res
    }, Sql(packIncrOracleSql)),

    // The COMPOSED end-to-end pipeline: quality gate → exact dedup →
    // eval-set decontamination → PII redaction → deterministic mixture
    // sampling → per-language shard packing, as one declared query.
    // Every stage is individually oracle- or spec-checked; this entry
    // checks the composition (PipelineSpec proves it equals the
    // stage-by-stage recomputation at sf0.001).
    //
    // Scale audit: the corpus is scanned ONCE — the cheap quality gate
    // runs on the scan, and its survivors are materialized
    // (localCheckpoint) before the expensive stages, so shingle
    // sketching, PII regexes and shard packing all run on survivor
    // rows only. The eval set is a second 2%-selectivity scan standing
    // in for a separate (always much smaller) eval table. No stage
    // shuffles text except the survivor checkpoint itself; the
    // decontamination join moves hashed longs, the shard window
    // shuffles (lang, id, token-count) triples.
    //
    // The checkpoint is EAGER (runs at query construction) and its
    // blocks are reclaimed by the ContextCleaner when the frame goes
    // unreferenced — the deliberate trade for running stages 1-2
    // exactly once per build; callers that only want the plan
    // (Explain) pay the stage-1/2 cost too.
    Query("pipeline_full", (s, d) => {
      val evalSet = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(50)) === 0)
      // stage 1+2: quality gate, then exact-fingerprint dedup
      // (keep-lowest-id), on the non-eval corpus
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val survivors = curateSurvivors(s, d)
        .filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("pred_lang"), col("text"))
        .localCheckpoint(true)
      // stage 3: drop docs sharing >= 2 eval-set shingles
      val clean = survivors.join(
        ops.DedupOps.evalOverlap(survivors, evalSet, "doc_id", "text")
          .filter(!col("contaminated")).select(col("doc_id")),
        Seq("doc_id"))
      // stage 4: PII redaction (train on redacted text)
      val redacted = clean.withColumn("red", TextOps.piiRedact(col("text")))
      // stage 5: mixture sampling — head sources 100%, tail 30%
      // (Knuth multiplicative hash; see pipeline_mix)
      val bucket = knuthBucket(col("doc_id"), 10)
      val rate = when(col("source").isin("src0", "src1", "src2", "src3"),
        lit(10)).otherwise(lit(3))
      val sampled = redacted.filter(bucket < rate)
      // stage 6: pack into ~4k-token shards per predicted language
      val ws = Window.partitionBy(col("pred_lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sampled
        .select(col("pred_lang"), col("doc_id"),
          TextOps.tokenCount(col("red")).as("n_tokens"))
        .withColumn("shard_id",
          floor((sum(col("n_tokens")).over(ws) - 1) / 4096.0).cast("bigint"))
        .groupBy(col("pred_lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
        .orderBy(col("pred_lang"), col("shard_id"))
    },
      // The COMPOSED pipeline, stage by stage in one statement: the
      // quality/fp/lang scored CTE is pipeline_curate's verbatim; the
      // decontamination stage reuses deconOracleSql's raw-gram recount
      // (the conversion that unblocked this oracle — the hashed-shingle
      // stage was the one inexpressible piece); mixture is
      // pipeline_mix's knuth arithmetic; shard packing is
      // pipeline_shard's running-sum window over REDACTED token counts
      // (a redacted "555 123 4567" collapses 3 tokens to one <PHONE>,
      // so the count runs over the redacted text in both engines).
      Sql(
      s"""WITH scored AS (
         |  SELECT doc_id, source, text,
         |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
         |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
         |                  as double)
         |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
         |    ${TextOps.sql.fingerprint} AS fp,
         |    CASE WHEN ${TextOps.sql.patCount(TextOps.sql.zh)} > 0 THEN 'zh'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.en)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.fr)},
         |                ${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'en'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.fr)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'fr'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.es)} >=
         |              ${TextOps.sql.patCount(TextOps.sql.de)} THEN 'es'
         |         ELSE 'de' END AS pred_lang
         |  FROM documents),
         |surv AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |      AS rn
         |    FROM scored
         |    WHERE quality_score >= 0.3 AND doc_id % 50 <> 0)
         |  WHERE rn = 1),
         |sgrams AS (
         |  SELECT DISTINCT d.doc_id,
         |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
         |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |        FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM surv)) d,
         |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
         |         AS t(i)),
         |eg AS (
         |  SELECT DISTINCT
         |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
         |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
         |  FROM (SELECT string_split(lower(text), ' ') AS w
         |        FROM documents WHERE doc_id % 50 = 0) d,
         |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
         |         AS t(i)),
         |contaminated AS (
         |  SELECT doc_id FROM sgrams JOIN eg USING (gram)
         |  GROUP BY doc_id HAVING count(*) >= 2),
         |sampled AS (
         |  SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND ${knuthHashSql("doc_id")} % 10 <
         |      (CASE WHEN source IN ('src0','src1','src2','src3')
         |            THEN 10 ELSE 3 END)),
         |packed AS (
         |  SELECT pred_lang, doc_id,
         |    cast(len(string_split(${TextOps.sql.piiRedact}, ' '))
         |      as bigint) AS n_toks
         |  FROM sampled)
         |SELECT pred_lang, shard_id, count(*) AS n_docs,
         |  cast(sum(n_toks) as bigint) AS shard_tokens
         |FROM (
         |  SELECT pred_lang, n_toks,
         |    cast(floor((sum(n_toks) OVER (PARTITION BY pred_lang
         |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1) / 4096.0)
         |      as bigint) AS shard_id
         |  FROM packed)
         |GROUP BY pred_lang, shard_id
         |ORDER BY pred_lang, shard_id""".stripMargin)),

    // The production variant: same quality gate, but dedup removes
    // whole NEAR-dup clusters (MinHash-LSH pairs at Jaccard >= 0.8 →
    // connected components → keep-lowest-id), not just exact
    // fingerprint copies. Rows-only check; ClusterOpsSpec proves its
    // kept set is a subset of pipeline_curate's (exact dups are always
    // clustered together).
    Query("pipeline_curate_neardup", (s, d) => {
      // materialized once: the regex-heavy scoring pipeline is
      // otherwise re-executed by every reference (sketching inside
      // nearDupClusters + the final attribute join)
      val surviving = curateSurvivors(s, d).localCheckpoint(true)
      ops.ClusterOps.nearDupClusters(surviving, "doc_id", "text")
        .filter(col("keep"))
        .select(col("doc_id"))
        .join(surviving, Seq("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
          col("quality_score"))
        .orderBy(col("doc_id"))
    }, Sql(curateNeardupOracleSql))
  )
}
