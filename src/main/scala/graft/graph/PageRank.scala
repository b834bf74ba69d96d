package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list — the influence/centrality
  * score a curation pipeline runs over its derived graphs (supplier↔customer
  * activity, document citation/near-dup graphs, user interaction graphs):
  * which entities sit at the center of the data, for sampling weights,
  * spam-source triage, canonical-pick tie-breaking.
  *
  * INTEGER-DETERMINISTIC by construction: ranks are bigint fixed-point
  * (`scale` total mass), each hop contributes `rank div outdeg` and the
  * damped update is `base + damp·Σ div 100` — floor division everywhere, no
  * doubles. A float PageRank sums contributions in partition order and no
  * two runs agree bit-for-bit; this one is exactly reproducible under any
  * reshuffle AND exactly twinned by an unrolled SQL oracle. The cost is mass
  * leakage of < 1 ulp-of-scale per floor (bounded in PageRankSpec's
  * conservation law); at scale=10¹² that is noise at the 9th decimal.
  *
  * Shuffle shape per iteration: one join edges⋈ranks on src and ONE hash
  * aggregation by node — all map-side combinable longs, never payload data.
  * Every node feeds that aggregate a `(node, 0)` carrier row next to the
  * edge contributions `(dst, rank div outdeg)`, so a node with no in-edges
  * still gets its row (Σ over {0} ∪ contributions = coalesce(Σ, 0)) and no
  * join back onto the node set is needed. Two prepaid-once invariants keep
  * the per-iteration cost to the rank-side traffic alone:
  *  - the edges⋈out-degree join is LOOP-INVARIANT, so it is computed once
  *    up front ((src, dst, outdeg) rows) instead of once per iteration
  *    (at iters=5: 5 exchanges / 5 SMJs, pinned by PlanPinSpec; the
  *    before/after plans are under plans/r07 and plans/r15);
  *  - the invariant edge side is hash(src)-partitioned and src-sorted
  *    BEFORE its localCheckpoint. `Dataset.localCheckpoint` captures the
  *    physical plan's outputPartitioning/outputOrdering into the LogicalRDD,
  *    so every iteration's SMJ sees a pre-partitioned, pre-sorted edge side
  *    and plans ZERO exchange and ZERO sort for it — the ingest-prepaid-sort
  *    strategy of [[graft.relational.Tpch.ensureBucketedFacts]] applied to
  *    an in-query loop invariant (guide §2.4 "remove shuffles outright").
  *  The checkpoint also cuts lineage ONCE: the final plan references these
  *  inputs `iters` times, and without it each reference would re-run the
  *  caller's full edge-derivation lineage ([[graft.dedup.Components]]
  *  learned this the hard way — 92 s → 9 s).
  *
  * Dangling nodes (out-degree 0) keep their base rank and forward nothing —
  * their damped mass leaks rather than redistributes (the simple PageRank
  * variant; callers wanting strict conservation symmetrize their edges, as
  * q_pagerank's bipartite graph does, making dangling nodes impossible).
  */
object PageRank {

  /** Ranks after exactly `iters` synchronous updates.
    *
    * @param edges (src, dst) directed edges, any duplicates (deduplicated
    *              internally; parallel edges would double-count mass).
    * @param assumeDistinct callers that can PROVE their edge set is already
    *              duplicate-free (q_pagerank: distinct pairs over disjoint
    *              's'/'c' namespaces, symmetrized — a swap can never collide
    *              with a forward edge) skip the internal dedup exchange;
    *              a false claim double-counts mass, so default off.
    * @return (node, rank) for every node appearing in an edge; Σ rank ≲
    *         `scale` (floor losses only). */
  def ranks(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
      dampPct: Int = 85, assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct out of range: $dampPct")
    // (measured dead end, round 7: deriving the iteration partition count
    // from the edge count — clamp(edges/64k, 1, session) on a conf-scoped
    // clone — regressed ~15 % at sf0.1: the invariant materializations are
    // compute-bound and want the session's full width; per-task overhead on
    // near-empty iteration partitions was NOT the binding cost. Session
    // parallelism kept; see BENCH.md dead-ends.)
    val e0 = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    val e = (if (assumeDistinct) e0 else e0.distinct())
      .localCheckpoint(eager = false)
    val out = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // loop-invariant (src, dst, outdeg): the e⋈out SMJ's output is ALREADY
    // hash(src)-partitioned and src-sorted, and localCheckpoint captures
    // that layout into the LogicalRDD — so each iteration's edges⋈ranks SMJ
    // plans no exchange and no sort on this side (the per-iteration edge
    // re-sort of the round-6 plan, prepaid; an explicit repartition+sort
    // here would only re-shuffle what the join already clustered)
    val eo = e.join(out, "src").localCheckpoint(eager = false)
    // node set: checkpointed so `n`, the carriers and the first ranks
    // don't each redo the distinct's exchange
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count()
    require(scale >= n, s"scale $scale below node count $n: every rank floors to 0")
    val base = scale * (100L - dampPct) / (100L * n)
    val carriers = nodes.select(col("node"), lit(0L).as("c"))
    var rank = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 1 to iters) {
      rank = eo
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .union(carriers)
        .groupBy(col("node"))
        .agg((lit(base) + expr(s"${dampPct}L * sum(c) div 100L")).as("rank"))
    }
    rank
  }
}
