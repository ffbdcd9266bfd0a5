package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Deterministic fixed-point PageRank over an undirected pair set —
  * the canonical-document chooser for dedup clusters (rank the
  * near-dup graph, keep the most central copy) and a general
  * importance measure over any similarity graph the engine builds.
  *
  * Scale + determinism: ranks are integer MICRO-units and every
  * operation is long arithmetic (`div`, `*`, `+`) — integer sums are
  * associative/commutative, so the result is independent of partition
  * count and merge order and replayable bit-for-bit in any SQL engine
  * (the same design as the fixed-point k-means trainer,
  * Similarity.scala). Floating-point PageRank can never hash-match
  * across engines: the per-node Σ contrib is summed in shuffle order.
  *
  * Update rule (no dangling-mass redistribution; symmetrized edges
  * give every non-isolated node out-degree ≥ 1):
  * {{{
  *   r_0(v)     = SCALE
  *   r_{t+1}(v) = (15·SCALE) div 100
  *              + (85 · Σ_{u→v} (r_t(u) div deg(u))) div 100
  * }}}
  *
  * Each iteration is one equi-join + one map-side-combinable sum —
  * the standard distributed PageRank shape. Unlike the connected-
  * components fixpoint (which must materialize every round for its
  * driver-side convergence check), the iteration count here is FIXED,
  * so the loop builds ONE linear 5-deep plan executed by a single
  * action — no per-round checkpoint jobs. Only the inputs reused
  * ACROSS iterations (edges, degrees, vertex set) are cached, since an
  * RDD referenced k times in one plan is otherwise recomputed k times;
  * those caches are released before `pageRank` returns.
  * Overflow bound: 85 · n · SCALE must stay below 2^63, i.e. up to
  * ~10^11 nodes at SCALE = 10^6 — comfortably past a 100 TB corpus.
  */
object Rank {

  val Scale: Long = 1000000L
  private val Base: Long = 15L * Scale / 100L

  /** @param pairs undirected edges as (id_a, id_b) — symmetrized here
    * @param nodes one column `id`: the full vertex set (isolated nodes
    *              keep the base rank; a repeated id is one vertex)
    * @param iters fixed iteration count (convergence is geometric in
    *              0.85^t; 5–10 suffices for ranking)
    *
    * The iteration runs on the [[IdGraph]] kernel's `Long` keys, so ids
    * are keyed by SQL equality (`-0.0` = `0.0`, NaN = NaN) whatever
    * their type, and a null id raises `IllegalArgumentException`. A pair
    * end outside `nodes` still counts toward its neighbour's degree.
    * Edges(+degree) and the vertex set share ONE retained
    * HashPartitioner: each round's `edges ⋈ ranks` and `vertices ⋈
    * contribs` joins are NARROW, and the only per-round shuffle is the
    * contrib `reduceByKey` — with map-side combining, so at most one
    * (vertex, partial-sum) row per vertex per partition crosses. The
    * DataFrame formulation of this loop re-shuffled the loop-INVARIANT
    * edge side every round: Spark 4.1's AQE reports
    * UnknownPartitioning(0) through checkpoint/cache leaves, so no
    * DF-level arrangement removes those exchanges (measured twice, r16
    * negative results) — the retained-partitioner loop is the standard
    * fix, and 5 iterations plan 5 shuffles instead of 16. Integer
    * micro-unit arithmetic is unchanged (Long division/sum,
    * associative), so the output is bit-identical to the SQL unrolling
    * the oracle replays.
    */
  def pageRank(pairs: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    IdGraph.run(nodes.select(col("id")), pairs, "id", "rank_micro", valueIsId = false) { g =>
      // (s, (d, deg(s))): degrees summed on the partitioned edges, no shuffle
      val edges = g.persist(g.edges.join(g.edges.mapValues(_ => 1L).reduceByKey(g.part, _ + _)))
      var ranks = g.vertices.mapValues(_ => Scale)
      for (_ <- 0 until iters) {
        val contribs = edges.join(ranks).values
          .map { case ((d, dg), r) => (d, r / dg) }
          .reduceByKey(g.part, _ + _)
        ranks = g.vertices.leftOuterJoin(contribs)
          .mapValues { case (_, c) => Base + 85L * c.getOrElse(0L) / 100L }
      }
      ranks
    }
  }
}
