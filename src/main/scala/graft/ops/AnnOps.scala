package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Beyond-reference extension (SURVEY §2.5 — the
  * reference has no vector surface).
  *
  * Two paths:
  *  - brute force: broadcast the query set, fused cosine kernel
  *    ([[graft.functions.CosineSimilarity]]) over every (query, corpus)
  *    pair, per-query top-k. Exact; one pass over the corpus; scales
  *    linearly in corpus size — the right baseline when the query set
  *    is small enough to broadcast.
  *  - LSH-bucketed: deterministic random-hyperplane signs bucket the
  *    corpus; a query only scans buckets matching one of its sign-bit
  *    bands (multi-probe via banding, same pigeonhole trick as
  *    SimHash). Approximate; candidate volume drops by the bucket
  *    selectivity, which is what survives a 100-TB corpus.
  *
  * Every search path composes the same steps, each written once here:
  * [[queryFront]] (the query side), [[corpusFront]] (the corpus side),
  * [[candidates]] (their pairs minus self-pairs) and [[topK]] (the
  * per-query window). The per-query top-k shuffles on query id. With a
  * broadcastable query set the partial_topk → final merge is handled
  * by Spark's window + filter over (query partitions); at extreme
  * corpus scale the two-phase top-k is [[bruteForceTopKAgg]]
  * (per-partition top-k, then merge).
  */
object AnnOps {

  /** (query_id, query_vec, extra…): the query side every search path
    * joins; callers add their own broadcast hint. */
  private[graft] def queryFront(queries: DataFrame, idCol: String,
      vecCol: String, extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("query_id"),
      col(vecCol).as("query_vec")) ++ extra: _*)

  /** (neighbor_id, vec, extra…): the corpus side of a search, `vec`
    * being the vector the caller scores against. */
  private[graft] def corpusFront(corpus: DataFrame, idCol: String,
      vec: Column, extra: Column*): DataFrame =
    corpus.select(Seq(col(idCol).as("neighbor_id"), vec.as("vec")) ++
      extra: _*)

  /** Candidate pairs: corpus-side rows joined to query-side rows on the
    * `on` columns (none: every pair), minus each query itself. */
  private[graft] def candidates(corpusSide: DataFrame, querySide: DataFrame,
      on: String*): DataFrame =
    (if (on.isEmpty) corpusSide.crossJoin(querySide)
     else corpusSide.join(querySide, on))
      .filter(col("neighbor_id") =!= col("query_id"))

  /** Each query's `k` best rows by `score` (descending, neighbor_id
    * breaking ties), numbered 1..k as a bigint `rankCol`. */
  private[graft] def topK(scored: DataFrame, score: String, k: Int,
      rankCol: String = "rank"): DataFrame =
    scored.withColumn(rankCol, row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col(score).desc, col("neighbor_id"))).cast("bigint"))
      .filter(col(rankCol) <= k)

  /** The exact-cosine top-k of candidate pairs (query_vec, vec):
    * ranked on the unrounded sim, output (query_id, rank, neighbor_id,
    * keep…, sim rounded to 4 dp). */
  private[graft] def cosineTopK(cands: DataFrame, k: Int,
      keep: Column*): DataFrame =
    topK(cands.withColumn("sim",
        VectorFunctions.cosineSim(col("query_vec"), col("vec"))), "sim", k)
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id")) ++
        keep :+ round(col("sim"), 4).as("sim"): _*)

  /** Brute-force exact top-k cosine neighbors for each query row.
    * `queries` must be small (it is broadcast). Ties break on
    * neighbor id for full determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    cosineTopK(candidates(corpusFront(corpus, idCol, col(vecCol)),
      broadcast(queryFront(queries, idCol, vecCol))), k)

  /** Two-stage retrieval through a PCA coarse space — the classic
    * reduce-then-rerank shape: shortlist per query by cosine in the
    * `pcaDims`-dim principal subspace (mean-centered projections — the
    * top axes carry most of the variance, so the coarse ranking is a
    * cheap high-recall proxy), then re-rank the shortlist with the
    * exact full-dim cosine using [[bruteForceTopK]]'s exact ordering
    * convention (unrounded sim, neighbor_id tiebreak, round-4 output)
    * so a shortlist that contains the true top-k yields byte-identical
    * results.
    *
    * Scale: the coarse candidate stream moves (id, pcaDims floats) —
    * here 4× narrower than the raw vectors — and only shortlist
    * survivors are scored full-dim. At index scale the coarse pass
    * slots behind the IVF front the same way ivfTopK's probes do;
    * `shortlist` ≥ corpus makes the result structurally exact. */
  def pcaTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, pcaDims: Int = 16,
      shortlist: Int = 50, dim: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val model = PcaOps.fit(corpus, vecCol, dim, pcaDims)
    def proj(df: DataFrame): DataFrame =
      PcaOps.project(df.select(col(idCol), col(vecCol)), vecCol, model)
    val pvec = array((1 to pcaDims).map(i => col(s"pc$i")): _*)
      .cast("array<float>")
    val q = broadcast(queryFront(proj(queries), idCol, vecCol,
      pvec.as("query_pvec")))
    val coarse = candidates(corpusFront(proj(corpus), idCol, col(vecCol),
        pvec.as("pvec")), q)
      .withColumn("coarse_sim",
        VectorFunctions.cosineSim(col("query_pvec"), col("pvec")))
    cosineTopK(topK(coarse, "coarse_sim", shortlist, "crank"), k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k corpus docs whose similarity lies in a BAND
    * [lo, hi) — similar enough to be informative negatives, below the
    * near-duplicate cut (a near-dup used as a negative poisons the
    * contrastive objective; an easy negative teaches nothing). Both
    * the band cut and the ranking use the 4-dp ROUNDED similarity, so
    * the cross-engine result can never hinge on a kernel ulp. Same
    * broadcast-queries shape as [[bruteForceTopK]]; the IVF/LSH
    * candidate fronts compose the same way at index scale. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      lo: Double, hi: Double): DataFrame = {
    val scored = candidates(corpusFront(corpus, idCol, col(vecCol)),
        broadcast(queryFront(queries, idCol, vecCol)))
      .withColumn("sim", round(VectorFunctions.cosineSim(
        col("query_vec"), col("vec")), 4))
      .filter(col("sim") >= lo && col("sim") < hi)
    topK(scored, "sim", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim"))
  }

  /** Retrieval-quality evaluation — the metrics harness an embedding
    * pipeline reports before trusting a retriever: per query, top-k
    * neighbors by cosine, relevance = (neighbor label == query label),
    * then recall@k, MRR and NDCG@k per query. Ranking uses the 4-dp
    * ROUNDED similarity ([[hardNegatives]] discipline) and the DCG /
    * IDCG terms are round-12 → decimal-summed, so no metric ever
    * hinges on a kernel ulp or a shuffle-order double sum. IDCG is
    * computed over the SAME top-k rows (ranks 1..min(k, n_rel) — the
    * ideal ranking's term positions), so no per-query sequence
    * generation is needed. `n_rel` counts same-label corpus rows
    * minus the query itself (queries are drawn from the corpus).
    * Scale shape: queries broadcast, label counts broadcast (label
    * domain is O(classes)), one corpus pass, top-k shuffle on
    * query_id. */
  def retrievalEval(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queryFront(queries, idCol, vecCol,
      col(labelCol).as("query_label")))
    val labelCounts = broadcast(corpus
      .groupBy(col(labelCol).as("lbl"))
      .agg(count(lit(1)).as("lbl_n")))
    val scored = candidates(corpusFront(corpus, idCol, col(vecCol),
        col(labelCol).as("n_label")), q)
      .withColumn("sim", round(VectorFunctions.cosineSim(
        col("query_vec"), col("vec")), 4))
    val dcgTerm = round(lit(1.0) / log2(col("rank") + 1), 12)
      .cast(org.apache.spark.sql.types.DecimalType(28, 14))
    topK(scored, "sim", k)
      .join(labelCounts, col("query_label") === col("lbl"))
      .withColumn("n_rel", col("lbl_n") - 1)
      .withColumn("rel", (col("n_label") === col("query_label"))
        .cast("long"))
      .groupBy(col("query_id"), col("n_rel"))
      .agg(
        sum(col("rel")).as("hits"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"),
        sum(when(col("rel") === 1, dcgTerm)).as("dcg"),
        sum(when(col("rank") <= least(lit(k.toLong), col("n_rel")),
          dcgTerm)).as("idcg"))
      .select(col("query_id"), col("n_rel"), col("hits"),
        round(when(col("n_rel") > 0,
          col("hits") / least(lit(k.toLong), col("n_rel")))
          .otherwise(0.0), 6).as("recall"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6)
          .as("mrr"),
        // cast BOTH sums to double before dividing: the decimal sums
        // are exact (so the casts are deterministic) and IEEE double
        // division is bit-identical across engines, where decimal
        // division precision/scale rules are engine-specific
        round(coalesce(col("dcg").cast("double") /
          col("idcg").cast("double"), lit(0.0)), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** Brute-force top-k via the typed [[graft.functions.Aggregators.TopK]]
    * aggregator instead of a window: the bounded buffer gives map-side
    * partial top-k, so each partition ships at most k candidates per
    * query to the final merge — the scale path when the candidate
    * stream is too large to shuffle for a window sort. Output is
    * identical to [[bruteForceTopK]] (same oracle). */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val scored = candidates(corpusFront(corpus, idCol, col(vecCol)),
        broadcast(queryFront(queries, idCol, vecCol)))
      .select(col("query_id"),
        VectorFunctions.cosineSim(col("query_vec"), col("vec")).as("sim"),
        col("neighbor_id"))
      .as[(Long, Double, Long)]
    val topk = new graft.functions.Aggregators.TopK(k)
    scored
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk.toColumn.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col._2").as("neighbor_id"), round(col("col._1"), 4).as("sim"))
  }

  /** Diversified retrieval: greedy Maximal Marginal Relevance over a
    * bounded shortlist (Carbonell & Goldstein 1998) — the re-rank a
    * RAG/context-building stack applies so the top-k doesn't return k
    * near-copies of the same passage. Stage 1 is [[bruteForceTopK]]'s
    * shape truncated to `shortlist` (ranked on round(sim·10⁴) longs
    * so the shortlist membership is engine-stable); stage 2 collects
    * each query's
    * shortlist (bounded: `shortlist` vectors, KB per group) into the
    * [[graft.functions.Aggregators.MmrSelect]] typed aggregator and
    * runs the greedy λ·sim(q,d) − μ·maxSel sim(d,s) loop in one
    * per-group pass. At index scale stage 1 is whatever ANN front you
    * run (IVF/PQ/LSH); the MMR tail is always shortlist-bounded.
    *
    * The greedy loop runs in INTEGER space end to end: similarities
    * enter as round(sim·10⁴) longs (integer-scale rounding is the
    * one rounding both engines agree on — see
    * [[graft.functions.Aggregators.MmrSelect]]) and the score is the
    * long 7·simq_e4 − 3·m_e4 (unit 10⁻⁵), so selection and ties are
    * exact and the DuckDB oracle replays the loop as a lockstep
    * recursion over the same longs. The emitted mmr_score is
    * score_e5 / 10⁵ — one double division, no rounding. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 20,
      lamE1: Long = 7, muE1: Long = 3): DataFrame =
    mmrSelect(candidates(corpusFront(corpus, idCol, col(vecCol)),
      broadcast(queryFront(queries, idCol, vecCol))),
      k, shortlist, lamE1, muE1)

  /** Shared MMR shortlist and tail: candidate pairs (query_vec, vec) →
    * per-query shortlist on round(sim·10⁴) longs → greedy selection via
    * the bounded [[graft.functions.Aggregators.MmrSelect]] typed
    * aggregator. */
  private def mmrSelect(cands: DataFrame, k: Int, shortlist: Int,
      lamE1: Long, muE1: Long): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val spark = cands.sparkSession
    import spark.implicits._
    val scored = cands.withColumn("simq_e4",
      round(VectorFunctions.cosineSim(col("query_vec"), col("vec"))
        * 10000).cast("long"))
    val sel = new graft.functions.Aggregators.MmrSelect(k, lamE1, muE1)
    topK(scored, "simq_e4", shortlist)
      .select(col("query_id"), col("neighbor_id"), col("simq_e4"),
        col("vec"))
      .as[(Long, Long, Long, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3, r._4))
      .agg(sel.toColumn.name("sel"))
      .toDF("query_id", "sel")
      .select(col("query_id"), posexplode(col("sel")))
      .select(col("query_id"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("col._2").as("neighbor_id"),
        (col("col._1") / lit(100000.0)).as("mmr_score"))
  }

  /** [[mmrTopK]] behind the IVF front — the composition a production
    * retrieval stack runs: candidates come from the query's `nprobe`
    * probed cells (corpus/nlist × nprobe of the data, the index-scale
    * path), the per-query shortlist ranks on the same round(sim·10⁴)
    * longs, and the greedy diversification tail is [[mmrSelect]]
    * verbatim. The oracle composes the certified IVF
    * assignment/probe CTEs with the certified MMR lockstep recursion
    * over embedded centroid literals. */
  def ivfMmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: IvfModel, k: Int, nprobe: Int = 3,
      shortlist: Int = 20, lamE1: Long = 7, muE1: Long = 3): DataFrame =
    mmrSelect(candidates(ivfRows(corpus, idCol, vecCol, model),
      broadcast(probeRows(queries, idCol, vecCol, model, nprobe)), "cid"),
      k, shortlist, lamE1, muE1)

  /** Scalar-quantized (SQ8) brute-force top-k — the 4×-memory-cut
    * complement of [[pqTopK]]'s 32×: each dimension quantizes
    * independently to one of 256 grid points between the corpus-wide
    * per-dimension min and max, and queries score ASYMMETRICALLY
    * (full-precision query against reconstructed corpus vectors — the
    * standard ADC trade: no query-side quantization error).
    *
    * Determinism discipline: the model is 2·dim exact float32
    * min/max scalars (partition-order invariant by definition, KB on
    * the driver — the PCA/tokenizer "model = task reference"
    * pattern); code assignment is
    * round(((x − mn) · 255) / (mx − mn)) clamped to [0, 255] — each
    * step an IEEE correctly-rounded double op in a fixed order, so
    * DuckDB replays it bit-exactly from the raw table (the oracle
    * RECOMPUTES min/max itself: nothing is embedded) — and the
    * reconstruction mn + (c · (mx − mn)) / 255 rounds to float32, so
    * scoring runs the same codegen'd [[graft.functions
    * .CosineSimilarity]] float kernel as ann_brute. A constant
    * dimension (mx = mn) reconstructs as mn rather than dividing by
    * zero.
    *
    * Scale: at 100 TB the reconstruct-transform is one map-side pass
    * fused into the scan (at rest the corpus stores the int8 codes —
    * 64 B/vector instead of 256 B), the query side broadcasts, and
    * the top-k merge is [[bruteForceTopK]]'s bounded window shape. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int = 64): DataFrame = {
    val mmCols = (0 until dim).flatMap(i => Seq(
      min(element_at(col(vecCol), i + 1)).as(s"mn$i"),
      max(element_at(col(vecCol), i + 1)).as(s"mx$i")))
    val mm = corpus.agg(mmCols.head, mmCols.tail: _*).head()
    // an empty corpus, or a `dim` past the actual vector length
    // (element_at beyond the end is NULL, so min/max are NULL), would
    // otherwise surface as an opaque NPE from the Row access below
    require((0 until 2 * dim).forall(!mm.isNullAt(_)),
      s"sq8TopK: empty corpus or dim=$dim exceeds the stored vector " +
        "length (min/max stats are NULL)")
    val mins = (0 until dim).map(i => mm.getFloat(2 * i).toDouble).toArray
    val maxs = (0 until dim).map(i => mm.getFloat(2 * i + 1).toDouble)
      .toArray
    val mnLit = lit(mins); val mxLit = lit(maxs)
    def reconstruct(v: Column): Column =
      transform(v, (x, i) => {
        val mn = element_at(mnLit, i + 1)
        val mx = element_at(mxLit, i + 1)
        val code = when(mx === mn, lit(0.0)).otherwise(
          least(lit(255.0), greatest(lit(0.0),
            round((x.cast("double") - mn) * lit(255.0) / (mx - mn)))))
        mn + code * (mx - mn) / lit(255.0)
      }).cast("array<float>")
    cosineTopK(candidates(
      corpusFront(corpus, idCol, reconstruct(col(vecCol))),
      broadcast(queryFront(queries, idCol, vecCol))), k)
  }

  /** Deterministic random-hyperplane sign bits for a vector — one fused
    * native pass (see [[graft.functions.HyperplaneBits]]). */
  def hyperplaneBits(vec: Column, nbits: Int): Column =
    HashFunctions.hyperplaneBits(vec, nbits)

  /** LSH-bucketed approximate top-k: candidates share at least one
    * `bandBits`-bit band of the `nbits`-bit hyperplane signature with
    * the query. Recall < 1 by construction; candidate volume (and thus
    * cost) is bucket-bounded.
    *
    * Band width is the recall/selectivity dial: P(band match) =
    * p^bandBits with p = 1 - angle/pi, so NARROW bands (4 bits, the
    * default) keep recall usable even when true neighbors are only
    * moderately closer than random pairs (measured recall@10 on the
    * driver data: see RecallGatesSpec / PLANS.md §recall), while WIDE
    * bands (8 bits) buy ~16x more selectivity and are the right setting
    * at 100 TB when the corpus has genuinely-close neighbors
    * (cosine >= 0.8).
    *
    * `probeHamming = 1` turns on MULTI-PROBE: each query band also
    * probes the `bandBits` bucket values at Hamming distance 1 (one
    * sign bit flipped) — a (bandBits+1)x candidate-volume knob that
    * buys recall WITHOUT re-hashing or widening the index, the
    * standard trade (cf. Lv et al., "Multi-probe LSH", VLDB '07).
    * Probing happens on the (broadcast) query side only; the corpus
    * index is untouched, so the knob can be turned per query at an
    * unchanged 100-TB index. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nbits: Int = 32, bandBits: Int = 4,
      probeHamming: Int = 0): DataFrame = {
    require(bandBits >= 1 && bandBits <= 32, "bandBits must be in 1..32")
    require(nbits % bandBits == 0, "nbits must be a multiple of bandBits")
    require(probeHamming >= 0 && probeHamming <= 1,
      "probeHamming must be 0 (exact band) or 1 (flip one bit)")
    val nBands = nbits / bandBits
    def withBands(df: DataFrame, id: String, vec: String): DataFrame =
      DedupOps.explodeBands(
        df.withColumn("sig", hyperplaneBits(col(vec), nbits)),
        Seq(col(id), col(vec)),
        DedupOps.bitBands(col("sig"), nBands, bandBits), "band_val")
    val qbExact = withBands(queryFront(queries, idCol, vecCol),
      "query_id", "query_vec")
    val qbProbed =
      if (probeHamming == 0) qbExact
      else {
        // the probe set per band: the exact value plus every value one
        // flipped sign bit away (bit positions are static → a plain
        // column array, no expr-parsing)
        val probeVals = array((col("band_val") +: (0 until bandBits).map(
          b => col("band_val").bitwiseXOR(lit(1L << b)))): _*)
        qbExact.select(col("query_id"), col("query_vec"), col("band_id"),
          explode(probeVals).as("band_val"))
      }
    val cb = withBands(corpusFront(corpus, idCol, col(vecCol)),
      "neighbor_id", "vec")
    cosineTopK(candidates(cb, broadcast(qbProbed), "band_id", "band_val")
      .select(col("query_id"), col("query_vec"), col("neighbor_id"),
        col("vec"))
      .distinct(), k)
  }

  /** IVF (inverted-file) index model: nlist centroid vectors. Built
    * with deterministic seeding (hash-ordered sample) + a few Lloyd
    * iterations, so every build over the same corpus yields the same
    * index — no RNG state anywhere. Centroids are tiny (nlist × d) and
    * live on the driver / in broadcast literals. */
  case class IvfModel(centroids: Array[Array[Float]])

  /** Column: index of the centroid most cosine-similar to `vec`. */
  private def nearestCentroid(vec: Column, model: IvfModel): Column = {
    val sims = array(model.centroids.toIndexedSeq.map(c =>
      VectorFunctions.cosineSim(vec, typedlit(c.toSeq))): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Build an IVF model: deterministic seeds (lowest hash(id) rows),
    * then `iters` Lloyd steps. Per step: one pass assigning vectors to
    * centroids, one per-dimension mean aggregation; only nlist × d
    * numbers ever reach the driver. */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2): IvfModel = {
    val seeds = corpus
      .orderBy(abs(hash(col(idCol))), col(idCol))
      .limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    var model = IvfModel(seeds)
    (0 until iters).foreach { _ =>
      val assigned = corpus.select(
        nearestCentroid(col(vecCol), model).as("cid"), col(vecCol))
      val dims = assigned
        .select(col("cid"), posexplode(col(vecCol)))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("m")))), s => s.getField("m").cast("float")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      model = IvfModel(model.centroids.indices.map(i =>
        dims.getOrElse(i, model.centroids(i))).toArray)
    }
    model
  }

  /** (query_id, query_vec, cid) probe rows: each query's `nprobe` most
    * cosine-similar centroids, via lexicographic sort of (-sim, cid)
    * structs. */
  private def probeRows(queries: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, nprobe: Int): DataFrame = {
    val probeStructs = array(model.centroids.indices.map(i => struct(
      (-VectorFunctions.cosineSim(col("query_vec"), typedlit(
        model.centroids(i).toSeq))).as("negsim"),
      lit(i).as("cid"))): _*)
    queryFront(queries, idCol, vecCol)
      .withColumn("probe_cids", transform(
        slice(array_sort(probeStructs), 1, nprobe),
        s => s.getField("cid")))
      .select(col("query_id"), col("query_vec"),
        explode(col("probe_cids")).as("cid"))
  }

  /** (neighbor_id, vec, cid) rows: the corpus side assigned to its
    * IVF cells — what the IVF probes join and the IVF index stores. */
  private def ivfRows(corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfModel): DataFrame =
    corpusFront(corpus, idCol, col(vecCol),
      nearestCentroid(col(vecCol), model).as("cid"))

  /** Probe → score → top-k tail of the IVF paths over (neighbor_id,
    * vec, cid) rows. */
  private def ivfTail(assigned: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    cosineTopK(candidates(assigned, broadcast(probes), "cid"), k)

  /** (id, cid) cell assignment under a trained IVF model — the same
    * first-max argmax every probe path uses, exposed for corpus-level
    * cluster operations (balanced sampling, per-domain statistics).
    * Map-side at any scale: the nlist × d centroids ride as literals
    * inside one codegen'd projection, nothing shuffles. */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfModel): DataFrame =
    corpus.select(col(idCol),
      nearestCentroid(col(vecCol), model).as("cid"))

  /** IVF-probed approximate top-k: each query scans only the vectors
    * assigned to its `nprobe` nearest centroids — candidate volume is
    * corpus/nlist × nprobe on average, which is what survives a 100-TB
    * corpus (see [[writeIvfIndex]] for the persisted layout where the
    * assignment is a partition key). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: IvfModel, k: Int, nprobe: Int = 2): DataFrame =
    ivfTail(ivfRows(corpus, idCol, vecCol, model),
      probeRows(queries, idCol, vecCol, model, nprobe), k)

  /** Persist the IVF index as a CELL-PARTITIONED parquet layout: each
    * vector lives under its centroid's partition directory. A probe
    * then reads nprobe/nlist of the files via partition pruning — the
    * on-disk analogue of the inverted lists, and the layout a 100-TB
    * index actually ships with. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, path: String): Unit =
    ivfRows(corpus, idCol, vecCol, model)
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Top-k over a persisted IVF index: probe cells are resolved first
    * (centroids are driver-side model metadata, probe set is
    * nprobe x |queries| ints), then pushed as a STATIC partition filter
    * — the scan lists only the probed cell directories
    * (`PartitionFilters` in the plan, asserted in AnnOpsSpec), never
    * touching the other inverted lists. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, k: Int, nprobe: Int = 2): DataFrame = {
    val probes = probeRows(queries, idCol, vecCol, model, nprobe)
    ivfTail(prunedIndexScan(spark, path, probes), probes, k)
  }

  /** Scan a cell-partitioned index with the probe set resolved to a
    * STATIC partition filter: probe cids are metadata-sized (collected
    * deterministically), so the scan lists only the probed cell
    * directories. Shared by the IVF and IVF-PQ persisted paths. */
  private def prunedIndexScan(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame): DataFrame = {
    val probeCids = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).sorted
    StorageOps.parquet(spark, path)
      .filter(col("cid").isin(probeCids.toIndexedSeq.map(Integer.valueOf): _*))
  }

  /** (id, vec, band_id, band_val) rows for hyperplane-LSH blocking. */
  private def bandedBits(corpus: DataFrame, idCol: String, vecCol: String,
      nbits: Int): DataFrame = {
    require(nbits % 8 == 0, "nbits must be a multiple of 8")
    DedupOps.explodeBands(
      corpus.select(col(idCol), col(vecCol))
        .withColumn("sig", hyperplaneBits(col(vecCol), nbits)),
      Seq(col(idCol)), DedupOps.bitBands(col("sig"), nbits / 8, 8),
      "band_val")
  }

  /** Per-vector near-dup summary (stable one-row-per-vector shape even
    * when no pair crosses the threshold): LSH-bucket candidate count and
    * the max verified cosine against any candidate. */
  def embeddingDupSummary(corpus: DataFrame, idCol: String, vecCol: String,
      nbits: Int = 16, maxBucket: Int = 1000): DataFrame = {
    val banded = bandedBits(corpus, idCol, vecCol, nbits)
    val pairs = DedupOps.bucketPairs(banded,
      Seq(col("band_id"), col("band_val")), idCol, minN = 2, maxN = maxBucket)
    val scored = DedupOps.joinPairEnds(pairs, corpus, idCol, vecCol,
        "vec_a", "vec_b")
      .withColumn("cosine", VectorFunctions.cosineSim(col("vec_a"),
        col("vec_b")))
    // pairs are a<b; symmetrize so each vector sees its candidates
    val perVec = DedupOps.symmetrize(scored, Some("cosine"))
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_candidates"),
        round(max(col("cosine")), 4).as("max_cosine"))
    corpus.select(col(idCol).as("id"))
      .join(perVec, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("max_cosine"), lit(-1.0)).as("max_cosine"))
  }

  /** SemDedup-style semantic dedup (Abbas et al. 2023, arXiv
    * 2303.09540 — public literature; independent implementation):
    * k-means-cluster the embeddings (the [[buildIvf]] deterministic
    * Lloyd model), generate candidate pairs only WITHIN a cluster,
    * verify by exact cosine, and drop every vector that has a verified
    * semantic duplicate with a smaller id (deterministic keep-lowest
    * policy — greedy per pair, documented: a chain a~b, b~c with a!~c
    * drops both b and c). Scale shape: candidate volume is bounded by
    * the per-cluster cap (`maxBucket`, enforced map-side by the
    * bounded collect in bucketPairs), never all-pairs; the cluster
    * model is nlist x d driver-side floats; only (id, cid) ints and
    * verified pairs shuffle. A 100-TB corpus raises nlist so
    * corpus/nlist stays bounded — the knob is the same one the IVF
    * index exposes.
    *
    * Output: one row per vector — (id, cid, n_semantic_dups = verified
    * partners at cosine >= threshold, max_cosine over partners or -1,
    * kept = 0 iff some partner has a smaller id). */
  def semanticDedupSummary(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 8, threshold: Double = 0.95,
      maxBucket: Int = 10000): DataFrame = {
    val model = buildIvf(corpus, idCol, vecCol, nlist)
    val assigned = corpus.select(col(idCol),
      nearestCentroid(col(vecCol), model).as("cid"))
    val pairs = DedupOps.bucketPairs(assigned, Seq(col("cid")), idCol,
      minN = 2, maxN = maxBucket)
    val dups = DedupOps.joinPairEnds(pairs, corpus, idCol, vecCol,
        "vec_a", "vec_b")
      .withColumn("cosine", VectorFunctions.cosineSim(col("vec_a"),
        col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
    // a<b by construction: b sees a smaller-id partner (dropped), a
    // sees a larger-id partner (kept unless it is some other pair's b)
    val sym = dups.select(explode(array(
        struct(col("a").as("id"), col("cosine"), lit(false).as("drop")),
        struct(col("b").as("id"), col("cosine"), lit(true).as("drop"))))
        .as("e"))
      .select(col("e.id").as("id"), col("e.cosine").as("cosine"),
        col("e.drop").as("drop"))
    val perVec = sym.groupBy(col("id")).agg(
      count(lit(1)).as("n_semantic_dups"),
      round(max(col("cosine")), 4).as("max_cosine"),
      max(col("drop")).as("dropped"))
    assigned.select(col(idCol).as("id"), col("cid"))
      .join(perVec, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid").cast("bigint").as("cid"),
        coalesce(col("n_semantic_dups"), lit(0L)).as("n_semantic_dups"),
        coalesce(col("max_cosine"), lit(-1.0)).as("max_cosine"),
        when(coalesce(col("dropped"), lit(false)), lit(0L)).otherwise(lit(1L))
          .as("kept"))
  }

  // ---- product quantization (PQ) -----------------------------------

  /** Product-quantization model: `m` codebooks of `k` codewords, each
    * over a `dsub`-dimensional subvector slice (Jégou et al., TPAMI
    * 2011 — public literature; independent implementation). At scale
    * the index stores only the per-vector code array — with m=8 and
    * k<=256 a 64-float (256-byte) embedding compresses to 8 bytes,
    * and scoring a candidate costs m table lookups instead of a
    * dim-element dot product. */
  case class PqModel(dsub: Int, codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
  }

  // ---- model cache -------------------------------------------------

  /** [[buildIvf]] behind the artifact store
    * ([[StorageOps.cachedRows]]); one centroid per line. */
  def cachedIvf(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2): IvfModel = {
    val rows = StorageOps.cachedRows(spark, srcPath, s"ivf_${nlist}_$iters")(
      buildIvf(corpus, idCol, vecCol, nlist, iters)
        .centroids.toSeq.map(_.mkString(",")))
    IvfModel(rows.map(_.split(",").map(_.toFloat)).toArray)
  }

  /** [[buildPq]] behind the artifact store; line format
    * "<mi>;f0,f1,..." — mi-major, one codeword per line. */
  def cachedPq(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 64, iters: Int = 2): PqModel = {
    val rows = StorageOps.cachedRows(spark, srcPath, s"pq_${m}_${k}_$iters")(
      buildPq(corpus, idCol, vecCol, m, k, iters).codebooks.zipWithIndex
        .toSeq.flatMap { case (book, mi) =>
          book.toSeq.map(cw => s"$mi;${cw.mkString(",")}")
        })
    val books = rows.map { line =>
      val Array(mi, cw) = line.split(";", 2)
      (mi.toInt, cw.split(",").map(_.toFloat))
    }.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toArray).toArray
    PqModel(books(0)(0).length, books)
  }

  /** (mi, book) rows — one per subspace, each carrying the codebook as
    * array<struct<cw array<float>, nrm double>> with |cw|^2
    * precomputed. The codebook travels as BROADCAST DATA, not as a
    * literal expression tree: m*k codewords inlined as expressions
    * (the naive formulation) blow codegen past the JIT's method
    * limits and force interpreted fallback, and a k=256 production
    * codebook would not compile at all. */
  private def booksDf(corpus: DataFrame, model: PqModel): DataFrame = {
    val sess = corpus.sparkSession
    import sess.implicits._
    model.codebooks.zipWithIndex.toSeq
      .map { case (book, mi) =>
        (mi, book.toSeq.map(cw =>
          (cw.toSeq, cw.map(x => x.toDouble * x.toDouble).sum)))
      }
      .toDF("mi", "raw")
      .select(col("mi"), transform(col("raw"), e =>
        struct(e.getField("_1").as("cw"), e.getField("_2").as("nrm")))
        .as("book"))
  }

  /** (keys…, mi, sub) rows: each vector split into its m subvector
    * slices. */
  private def subvecs(corpus: DataFrame, keys: Seq[String], vecCol: String,
      m: Int, dsub: Int): DataFrame =
    corpus.select(keys.map(col) :+ posexplode(array((0 until m).map(mi =>
        slice(col(vecCol), mi * dsub + 1, dsub)): _*)): _*)
      .withColumnRenamed("pos", "mi")
      .withColumnRenamed("col", "sub")

  /** 0-based index of the L2-nearest codeword in the `book` column:
    * argmin |v-c|^2 == argmax (2 v.c - |c|^2). One fused-dot-product
    * pass per codeword ([[graft.functions.DotProduct]] inside the
    * lambda); first-minimum tie-break keeps assignment deterministic. */
  private def nearestInBook(sub: Column, book: Column): Column = {
    val scores = transform(book, e =>
      lit(2.0) * VectorFunctions.dot(sub, e.getField("cw")) -
        e.getField("nrm"))
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Build a PQ model: m deterministic L2 k-means runs, all advanced
    * in ONE Spark job per Lloyd iteration — subvector rows join the
    * broadcast codebook table on subspace id, assign, and aggregate
    * per-dimension means; only m*k*dsub floats reach the driver per
    * step. Seeds are the k lowest-hash corpus rows, sliced. */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 64, iters: Int = 2): PqModel = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val seeds = corpus
      .orderBy(abs(hash(col(idCol))), col(idCol))
      .limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    var books = Array.tabulate(m)(mi =>
      seeds.map(_.slice(mi * dsub, (mi + 1) * dsub)))
    val sv = subvecs(corpus, Seq(idCol), vecCol, m, dsub)
    (0 until iters).foreach { _ =>
      val dims = sv
        .join(broadcast(booksDf(corpus, PqModel(dsub, books))), Seq("mi"))
        .select(col("mi"), nearestInBook(col("sub"), col("book")).as("cid"),
          col("sub"))
        .select(col("mi"), col("cid"), posexplode(col("sub")))
        .groupBy(col("mi"), col("cid"), col("pos"))
        .agg(avg(col("col")).as("v"))
        .groupBy(col("mi"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("v")))), s => s.getField("v").cast("float")).as("cw"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
        .toMap
      books = Array.tabulate(m)(mi => books(mi).indices.map(ci =>
        dims.getOrElse((mi, ci), books(mi)(ci))).toArray)
    }
    PqModel(dsub, books)
  }

  /** (id, codes) rows: each vector encoded as its m nearest-codeword
    * indices — the only per-vector state the scale-path index stores.
    * One broadcast join + one shuffle on id. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    pqCodes(corpus, Seq(idCol), vecCol, model)

  /** (keys…, codes) rows: [[pqEncode]] grouped on every key column, so
    * per-vector columns computed before the subvector split (the IVF
    * cell) ride along without a second corpus read. */
  private def pqCodes(rows: DataFrame, keys: Seq[String], vecCol: String,
      model: PqModel): DataFrame =
    subvecs(rows, keys, vecCol, model.m, model.dsub)
      .join(broadcast(booksDf(rows, model)), Seq("mi"))
      .select(keys.map(col) ++ Seq(col("mi"),
        nearestInBook(col("sub"), col("book")).as("cid")): _*)
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("mi"),
        col("cid")))), s => s.getField("cid")).as("codes"))

  /** IVF-PQ composition — the shape a production 100-TB ANN index
    * actually ships: the coarse quantizer (IVF cells) bounds WHICH
    * candidates are scanned (nprobe/nlist of the corpus), the PQ
    * codes bound the BYTES per scanned candidate (m small ints, no
    * raw vectors), and the exact re-rank bounds the full-vector reads
    * to O(queries x refine x k) fetched by id. Composes the existing
    * [[buildIvf]] cell assignment with [[pqEncode]]/ADC scoring; with
    * the [[writeIvfIndex]] layout the cell probe becomes partition
    * pruning on disk. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, ivf: IvfModel, pq: PqModel, k: Int,
      nprobe: Int = 2, refine: Int = 4): DataFrame = {
    val probes = probeRows(queries, idCol, vecCol, ivf, nprobe)
      .select(col("query_id"), col("cid"))
    adcRerank(ivfPqRows(corpus, idCol, vecCol, ivf, pq), probes, queries,
      idCol, vecCol, pq, corpus, k, refine)
  }

  /** (neighbor_id, codes, cid) rows: each vector's PQ codes under its
    * IVF cell — what the IVF-PQ probes scan and the IVF-PQ index
    * stores. The cell is computed in the same pass as the subvectors,
    * so the corpus is read once. */
  private def ivfPqRows(corpus: DataFrame, idCol: String, vecCol: String,
      ivf: IvfModel, pq: PqModel): DataFrame =
    pqCodes(corpus.select(col(idCol).as("neighbor_id"),
        nearestCentroid(col(vecCol), ivf).as("cell"), col(vecCol)),
        Seq("neighbor_id", "cell"), vecCol, pq)
      .select(col("neighbor_id"), col("codes"), col("cell").as("cid"))

  /** Shared ADC → shortlist → exact-re-rank tail of the IVF-PQ paths:
    * score (cid, codes) candidate rows against each probing query's
    * ADC table, keep the top refine*k per query, fetch true vectors by
    * id for the exact re-rank. */
  private def adcRerank(encoded: DataFrame, probes: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, pq: PqModel,
      corpus: DataFrame, k: Int, refine: Int): DataFrame = {
    val cands = candidates(encoded, broadcast(probes), "cid").join(
      broadcast(pqQueryTables(queries, idCol, vecCol, pq)), Seq("query_id"))
    exactRerank(adcShortlist(cands, k * refine), corpus, queries, idCol,
      vecCol, k)
  }

  /** ADC score-and-shortlist: each candidate's codes looked up in its
    * query's `qtab` and summed, then each query's top `n` as
    * (query_id, neighbor_id). */
  private def adcShortlist(cands: DataFrame, n: Int): DataFrame =
    topK(cands.withColumn("adc", aggregate(
        zip_with(col("codes"), col("qtab"),
          (c, tab) => element_at(tab, c + 1)),
        lit(0.0), (acc, x) => acc + x)), "adc", n)
      .select(col("query_id"), col("neighbor_id"))

  /** Persist the IVF-PQ index: (neighbor_id, codes) rows partitioned
    * by IVF cell — the production 100-TB artifact in full. Per vector
    * the index stores only the id and m code ints (the 64-float
    * embedding never leaves the corpus), and the cell directory
    * structure makes a probe a partition-pruned scan. */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      ivf: IvfModel, pq: PqModel, path: String): Unit =
    ivfPqRows(corpus, idCol, vecCol, ivf, pq)
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Top-k over a persisted IVF-PQ index: probe cells resolve to a
    * STATIC partition filter (the scan lists only the probed cell
    * directories — `PartitionFilters` in the plan, AnnOpsSpec-gated),
    * the ADC scan reads only (neighbor_id, codes), and full vectors
    * are fetched from the CORPUS by id for the refine*k shortlist —
    * the only full-vector reads in the whole search. */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, ivf: IvfModel, pq: PqModel, k: Int,
      nprobe: Int = 2, refine: Int = 4): DataFrame = {
    val probes = probeRows(queries, idCol, vecCol, ivf, nprobe)
      .select(col("query_id"), col("cid"))
    adcRerank(prunedIndexScan(spark, path, probes), probes, queries,
      idCol, vecCol, pq, corpus, k, refine)
  }

  /** PQ asymmetric-distance top-k with exact re-ranking.
    *
    * Phase 1 (ADC over codes only): each query builds one m x k
    * inner-product table against the broadcast codebooks, and a
    * candidate's approximate score is m table lookups summed via
    * zip_with/aggregate — the corpus-side scan touches only the code
    * array, never the raw embeddings. Embeddings here are unit-norm,
    * so inner product == cosine and the ADC ranking is principled.
    *
    * Phase 2 (refine): the top refine*k candidates per query join
    * back to the corpus BY ID to fetch their true vectors for an
    * exact cosine re-rank — at 100 TB this is the only stage that
    * reads full vectors, and it reads O(queries x refine x k) of
    * them. Output matches the other ANN paths: (query_id, rank,
    * neighbor_id, sim). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: PqModel, k: Int,
      refine: Int = 4): DataFrame = {
    val encoded = pqEncode(corpus, idCol, vecCol, model)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val cands = candidates(encoded,
      broadcast(pqQueryTables(queries, idCol, vecCol, model)))
    exactRerank(adcShortlist(cands, k * refine), corpus, queries, idCol,
      vecCol, k)
  }

  /** (query_id, qtab) — each query's m x k ADC inner-product table,
    * assembled from the same broadcast codebook rows the index was
    * built from. */
  private def pqQueryTables(queries: DataFrame, idCol: String,
      vecCol: String, model: PqModel): DataFrame =
    subvecs(queries.select(col(idCol).as("query_id"), col(vecCol)),
        Seq("query_id"), vecCol, model.m, model.dsub)
      .join(broadcast(booksDf(queries, model)), Seq("mi"))
      .select(col("query_id"), col("mi"),
        transform(col("book"), e =>
          VectorFunctions.dot(col("sub"), e.getField("cw"))).as("tab"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("mi"),
        col("tab")))), s => s.getField("tab")).as("qtab"))

  /** Fetch true vectors for a (query_id, neighbor_id) shortlist BY ID
    * and exact-cosine re-rank to the final top-k — the only stage of
    * the PQ paths that reads full vectors. */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    cosineTopK(shortlist
      .join(corpusFront(corpus, idCol, col(vecCol)), Seq("neighbor_id"))
      .join(broadcast(queryFront(queries, idCol, vecCol)),
        Seq("query_id")), k)
}
