package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph ranking (PageRank by power iteration — Page et
  * al. 1999, public literature; independent implementation).
  *
  * Design for scale, mirroring [[ClusterOps]]' connected components:
  *   - the edge table (corpus-shaped) is joined to the rank table
  *     co-keyed on `src` every iteration — the SAME key each round, so
  *     a cluster reuses one partitioning across the whole power
  *     iteration; the per-iteration shuffle volume is (node, long)
  *     pairs, never payloads;
  *   - rank state lives in a lazily localCheckpoint'ed DataFrame whose
  *     materializing action is the per-iteration dangling-mass
  *     aggregate — exactly ONE Spark job per iteration, and the driver
  *     only ever holds one scalar;
  *   - ranks are FIXED-POINT LONGS (units of 1e-15): every operation is
  *     integer multiply/divide/sum, so the result is bit-identical
  *     under any partitioning or shuffle order (double summation would
  *     drift in the last ulps run-to-run), ANSI-safe (all products
  *     bounded: total mass 1e15 × damping numerator 85 < 2^63), and
  *     exactly reproducible by the spec's driver-side recompute.
  *     Floor division leaks ≤ 1 unit of mass per node per step —
  *     bounded by n × iters × 1e-15, far below the 1e-6 output
  *     rounding.
  *
  * Multi-edges are deliberately kept: a repeated (src, dst) edge
  * weights the random walk by visit frequency, which is the right
  * semantics for interaction graphs (and the spec recomputes with the
  * same convention).
  */
object GraphOps {

  /** Mass unit: ranks sum to ~[[Unit15]] (1.0) across all nodes. */
  private val Unit15 = 1000000000000000L // 1e15

  /** PageRank over an edge list. Returns (node, rank_f) with rank_f a
    * fixed-point long (units of 1e-15); divide by 1e15 for the
    * conventional [0, 1] rank. `dampingPct` is the damping factor in
    * integer percent (85 = the canonical 0.85). */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 12, dampingPct: Int = 85): DataFrame =
    rankLoop(edges, srcCol, dstCol, None, iters, dampingPct)

  /** Personalized PageRank (Page et al. 1999 §6; the random walker
    * teleports to the SEED SET instead of uniformly) — the
    * graph-proximity score behind recommend-from-here and
    * seed-expansion retrieval. Same fixed-point integer discipline as
    * [[pagerank]], differing only in the teleport vector: rank₀ and the
    * per-round base concentrate on the seeds (Unit15 / |S| each), and
    * any dangling mass returns to the seeds rather than the whole
    * node set. Deterministic end-to-end, so the oracle unrolls the
    * rounds as CTEs exactly like PageRank's. */
  def personalizedPagerank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Seq[Long], iters: Int = 12,
      dampingPct: Int = 85): DataFrame = {
    require(seeds.nonEmpty, "personalized pagerank needs seeds")
    rankLoop(edges, srcCol, dstCol, Some(seeds), iters, dampingPct)
  }

  /** The power iteration behind [[pagerank]] and
    * [[personalizedPagerank]]. Each node's state row carries a `seed`
    * flag next to its out-degree: the teleport set. `seeds = None` is
    * uniform PageRank, where every node is a seed and |S| = n; rank₀,
    * the per-round base and any dangling mass all go to the seeds,
    * Unit15 / |S| each. Ranks are longs summing to ~1e15, shares use
    * `div` not `/`, one co-keyed shuffle pair per round, one
    * checkpoint per round. */
  private def rankLoop(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[Seq[Long]], iters: Int, dampingPct: Int): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val what = if (seeds.isEmpty) "pagerank" else "personalized pagerank"
    // the projected (src, dst) pairs are read every iteration: pay the
    // source scan/parse once, keep only two longs per edge
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint() // node domain: bounded, reused every round
    val n = nodes.count()
    require(n > 0, s"$what over an empty edge list")
    // a seed absent from the node set would silently drop its
    // Unit15/|S| share of teleport mass (its rank row never exists),
    // quietly diverging from the PPR definition — fail loud instead.
    // One bounded filter-count against the checkpointed node table.
    seeds.foreach { ss =>
      val seedsPresent = nodes.filter(col("node").isin(ss: _*)).count()
      require(seedsPresent == ss.distinct.length,
        s"personalized pagerank: ${ss.distinct.length - seedsPresent} " +
          s"seed(s) not present in the graph's node set — teleport mass " +
          "would silently vanish")
    }
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // dangling nodes (no outgoing edges) are a STRUCTURAL property —
    // detect once; a graph without them (every symmetrized graph)
    // skips the per-round dangling-mass aggregate, which is otherwise
    // the only blocking driver round-trip in the loop (12 jobs → 1)
    val hasDangling = outDeg.count() < n
    val sCount = seeds.fold(n)(_.length.toLong)
    val rInit = Unit15 / sCount
    val basePerSeed = (100 - dampingPct) * rInit / 100
    val isSeed = seeds.fold(lit(true))(ss => col("node").isin(ss: _*))
    // r15: the rank state CARRIES the (static) out-degree — deg is a
    // property of the node, so riding it through the per-round
    // checkpoint replaces the per-round ranks⋈outDeg join (one AQE
    // broadcast stage per round, 12 jobs across the loop) with a
    // row-local filter, and the dangling-mass aggregate's anti-join
    // with a null-check on the same rows. The seed flag rides the same
    // way, so the teleport test is row-local too.
    var ranks = nodes.join(outDeg, Seq("node"), "left")
      .select(col("node"), col("deg"), isSeed.as("seed"))
      .withColumn("rank_f", when(col("seed"), lit(rInit)).otherwise(lit(0L)))
    var iter = 0
    while (iter < iters) {
      // per-source share (integer division) — row-local on the carried
      // deg; `div`, not `/`: Column./ on longs is DOUBLE division, and
      // a 53-bit mantissa can round across an integer boundary before
      // the cast truncates — div is exact 64-bit integer division
      val shares = ranks.filter(col("deg").isNotNull)
        .selectExpr("node AS src", "rank_f div deg AS share")
      val contribs = e.join(shares, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("contrib_f"))
      // dangling mass: rank held by nodes with no outgoing edges goes
      // back to the seeds (structurally zero when the graph is
      // symmetrized — skipped entirely then, see hasDangling)
      val danglingF = if (!hasDangling) 0L
        else ranks.filter(col("deg").isNull)
          .agg(coalesce(sum(col("rank_f")), lit(0L))).collect()(0).getLong(0)
      val seedMass = basePerSeed + dampingPct * (danglingF / sCount) / 100
      val next = ranks
        .join(contribs, Seq("node"), "left")
        .selectExpr("node", "deg", "seed",
          s"CASE WHEN seed THEN ${seedMass}L ELSE 0L END" +
            s" + ($dampingPct * coalesce(contrib_f, 0)) div 100" +
            " AS rank_f")
        // one job per round either way, with a round-sized plan each
        // time: dangling graphs materialize lazily via the round's
        // dangling aggregate; dangling-free graphs checkpoint eagerly
        // (letting all rounds chain into one action instead compiles
        // a 12-round mega-plan — measured 1.7x SLOWER than the
        // per-round jobs it saves)
        .localCheckpoint(eager = !hasDangling)
      ranks = next
      iter += 1
    }
    // force the final round's checkpoint so callers get a stable table
    ranks.count()
    ranks.select(col("node"), col("rank_f"))
  }

  /** Community detection by SYNCHRONOUS LABEL PROPAGATION (Raghavan,
    * Albert & Kumara 2007, public literature; independent
    * implementation), made fully deterministic: a fixed iteration
    * count, ties broken by the MINIMUM label, and a self-loop per node
    * (each node votes its own current label) — the standard damping
    * for the two-coloring oscillation synchronous LPA exhibits on
    * near-bipartite regions. Deterministic end-to-end: every update is
    * an integer count argmax with a total tie order, so the result is
    * identical under any partitioning and replayable in portable SQL
    * (the oracle unrolls the rounds as CTEs, like PageRank's).
    *
    * Scale discipline (the [[pagerank]] loop): the symmetrized
    * adjacency is projected to two longs per edge and checkpointed
    * once; every round joins it to the (node, label) state CO-KEYED ON
    * dst — the same key each round — then two aggregations (count per
    * (node, candidate), argmax per node) whose shuffle rows are (long,
    * long, count). State is eagerly localCheckpoint'ed per round: one
    * job per round, round-sized plans, nothing driver-side. */
  def labelPropagation(und: DataFrame, uCol: String, vCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val e0 = und.select(col(uCol).cast("long").as("u"),
      col(vCol).cast("long").as("v"))
    val nodes = e0.select(col("u").as("node"))
      .union(e0.select(col("v").as("node")))
      .distinct()
      .localCheckpoint()
    val adj = e0.select(col("u").as("src"), col("v").as("dst"))
      .union(e0.select(col("v").as("src"), col("u").as("dst")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
    var iter = 0
    while (iter < iters) {
      val votes = adj
        .join(labels.select(col("node").as("dst"), col("label")),
          Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      labels = votes.groupBy(col("src"))
        // argmax by (cnt DESC, label ASC) as a struct MIN — one
        // aggregate, no per-node window
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lb")))
          .as("m"))
        .select(col("src").as("node"), col("m.lb").as("label"))
        .localCheckpoint()
      iter += 1
    }
    labels
  }

  /** Driver-side LPA reference with IDENTICAL update order — the
    * spec's exact-equality anchor; do not use at scale. */
  private[graft] def lpaLocal(edges: Seq[(Long, Long)],
      iters: Int = 4): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = (edges.flatMap { case (u, v) => Seq(u -> v, v -> u) } ++
      nodes.map(n => n -> n)).groupBy(_._1).map { case (s, ds) =>
        s -> ds.map(_._2) }
    var labels = nodes.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      labels = adj.map { case (s, ds) =>
        val counts = ds.groupBy(labels).map { case (l, o) => l -> o.size }
        s -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  /** Exact triangle enumeration by DEGREE-ORDERED ORIENTATION (the
    * node-iterator++ / MapReduce formulation of Suri & Vassilvitskii
    * WWW'11, public literature; independent implementation): orient
    * every undirected edge from its lower (degree, id) endpoint to the
    * higher, then close wedges with two equi-joins. Each triangle is
    * emitted EXACTLY once (its orientation is a DAG on a total order),
    * and — the scale property the orientation buys — every node's
    * out-degree is O(√m): a hub of degree d has all but O(√m) of its
    * edges pointing INTO it, so the wedge join can never go quadratic
    * on a hot node. Both joins are equi-joins on node ids (AQE picks
    * broadcast vs shuffle-hash by wedge volume); the edge table is two
    * longs per row on the wire.
    *
    * Input: distinct undirected edges with `uCol` < `vCol`. Output:
    * one (x, y, z) row per triangle, named in orientation order. */
  def triangles(und: DataFrame, uCol: String, vCol: String): DataFrame = {
    val e0 = und.select(col(uCol).cast("long").as("u"),
      col(vCol).cast("long").as("v"))
    val deg = e0.select(col("u").as("n"))
      .union(e0.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = e0
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val wedges = oriented.as("e1")
      .join(oriented.select(col("a").as("wa"), col("b").as("wb")).as("e2"),
        col("b") === col("wa"))
      .select(col("a").as("x"), col("b").as("y"), col("wb").as("z"))
    wedges.join(oriented.select(col("a").as("ca"), col("b").as("cb")).as("e3"),
        col("x") === col("ca") && col("z") === col("cb"))
      .select(col("x"), col("y"), col("z"))
  }

  /** Driver-side reference recompute with IDENTICAL integer
    * arithmetic — exists for the spec's exact-equality gate; do not
    * use at scale (materializes the whole graph on the driver). */
  private[graft] def pagerankLocal(edges: Seq[(Long, Long)], iters: Int = 12,
      dampingPct: Int = 85): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val basePerNode = (100 - dampingPct) * (Unit15 / n) / 100
    var ranks = nodes.map(_ -> Unit15 / n).toMap
    (0 until iters).foreach { _ =>
      val shares = ranks.collect {
        case (node, r) if outDeg.contains(node) => node -> r / outDeg(node)
      }
      val contribs = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => shares.getOrElse(e._1, 0L)).sum
      }
      val danglingF = ranks.collect {
        case (node, r) if !outDeg.contains(node) => r
      }.sum
      val redistributed = dampingPct * (danglingF / n) / 100
      ranks = nodes.map(node => node ->
        (basePerNode + dampingPct * contribs.getOrElse(node, 0L) / 100 +
          redistributed)).toMap
    }
    ranks
  }
}
