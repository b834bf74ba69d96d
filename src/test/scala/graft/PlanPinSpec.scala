package graft

import graft.tools.PlanPin
import graft.tools.PlanPin.PlanStats

/** Table-driven physical-plan pinning for every headline (bench) query.
  *
  * Each row is the plan fingerprint — shuffle-exchange / broadcast-join /
  * sort-merge-join / cartesian counts — that the query's scale story depends
  * on. A regression that adds an exchange, drops a broadcast, or flips a join
  * to cartesian fails HERE with a named query, instead of surfacing as an
  * unexplained bench delta a round later.
  *
  * When a plan changes INTENTIONALLY, regenerate the table with
  * `sbt "runMain graft.tools.PlanPin /root/testdata/sf0.001"` and paste the
  * new row with a note in the commit message. AQE is disabled for the
  * snapshot (an AQE plan pre-action is an unfinalized shell); the bucketed
  * scan-ordering flag is set to match the bench/Verify sessions. */
class PlanPinSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Generated by `graft.tools.PlanPin` at sf0.001 (round 5). Notable rows:
    * the three text-stats queries and q_simhash are pure scan→project (zero
    * shuffles); q_tpch_bucketed_revenue is the prepaid-shuffle proof — ONE
    * exchange (the final groupBy), the fact⋈fact SMJ runs on bucketed scans
    * with no exchange beneath it. */
  private val pinned: Map[String, PlanStats] = Map(
    // the routed leaves parse with no barrier exchange (as Pipeline.run
    // does): q_routed_rows keeps only the fixture's turn_idx window exchange,
    // q_sink_agg that one plus its aggregate's
    "q_routed_rows" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_sink_agg" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_conv_spans" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_enrich_agg" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 1, sortMergeJoins = 0, cartesians = 0),
    "q_limit_final" -> PlanStats(shuffleExchanges = 3, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_dedup_exact" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    // round 7: the Jaccard verify stage joins CANDIDATE shingles only — the
    // pair set is localCheckpointed (its LSH lineage, incl. the band/distinct
    // exchanges, runs behind the checkpoint and is no longer in the visible
    // plan), the docs scan is pruned by a broadcast semi-join before any
    // shingling, and both attach joins broadcast the candidate-sized sides
    "q_minhash_pairs" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 2, sortMergeJoins = 0, cartesians = 0),
    "q_simhash" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_ann_lsh" -> PlanStats(shuffleExchanges = 3, broadcastJoins = 3, sortMergeJoins = 0, cartesians = 0),
    "q_token_stats" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_quality" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_langid" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_curation_full" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    "q_tpch_revenue" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 2, sortMergeJoins = 0, cartesians = 0),
    "q_tpch_nation_volume" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 5, sortMergeJoins = 0, cartesians = 0),
    "q_tpch_bucketed_revenue" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 1, sortMergeJoins = 1, cartesians = 0),
    // as-of: 1 BHJ (snapshot broadcast), exchanges = build agg (2: partial
    // distinct + final) + the result groupBy re-key; probe side shuffle-free
    "q_asof_config" -> PlanStats(shuffleExchanges = 3, broadcastJoins = 1, sortMergeJoins = 0, cartesians = 0),
    // CDC: winner window + final union exchange; supersede anti-join
    // broadcasts at this scale
    "q_cdc_upsert" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 1, sortMergeJoins = 0, cartesians = 0),
    // funnel: ONE exchange for all chained windows + the depth-histogram
    // re-key
    "q_funnel" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    // overlap join: span-side agg (partial+final share the events exchange),
    // window side broadcasts at this scale (both sides re-derive from the
    // same scan), result groupBy re-keys — and NO nested-loop/cartesian
    // (nestedLoopJoins = 0 is the load-bearing pin for every binned join)
    "q_overlap_sessions" -> PlanStats(shuffleExchanges = 3, broadcastJoins = 1, sortMergeJoins = 0, cartesians = 0),
    // sweep-line density: the delta shuffle and the block-window exchange
    // run at construction (behind the localCheckpoint) so the visible plan
    // is the tiny tail — block-offsets re-key + the broadcast of the
    // offsets back onto the checkpointed buckets; the serial SinglePartition
    // window over block TOTALS is asserted in SweepSpec, not here
    "q_interval_density" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 1, sortMergeJoins = 0, cartesians = 0),
    // skipping read: manifest-pruned file-list scan + residual filter — a
    // pure scan→filter→project with ZERO exchanges (any exchange appearing
    // here means the pruned read stopped being a plain narrow plan)
    "q_skipping_read" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    // DPP: ONE exchange (the final groupBy) + the hot-month dim broadcast
    // whose subquery the partition filter reuses — a dropped BHJ here would
    // also drop the dynamicpruning reuse (DppSpec asserts that directly)
    "q_dpp_hot_months" -> PlanStats(shuffleExchanges = 1, broadcastJoins = 1, sortMergeJoins = 0, cartesians = 0),
    // anomaly: series groupBy + the per-key window re-key — no joins; the
    // whole MAD stack is per-row array math over the window's collect_list
    "q_anomaly" -> PlanStats(shuffleExchanges = 2, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    // BM25: ZERO exchanges — the stats pass is a separate scalar job at
    // construction; the scored scan ends in TakeOrderedAndProject (local
    // heaps), never a sort or shuffle
    "q_bm25" -> PlanStats(shuffleExchanges = 0, broadcastJoins = 0, sortMergeJoins = 0, cartesians = 0),
    // PageRank: 5 unrolled iterations × (edges⋈rank SMJ + the node agg
    // exchange) over the lazily-checkpointed graph; SMJ is the correct
    // big⋈big shape per iteration — a cartesian or BNLJ here would be the
    // regression. The loop-invariant edges⋈outdeg join is hoisted out of
    // the iteration and its (src)-partitioned sort prepaid via
    // localCheckpoint, and the base-rank carriers fold into the node
    // aggregate (no left join back onto the node set): per iteration
    // 1 exchange + 1 SMJ (round 6 pinned 10/15, round 7 5/10)
    "q_pagerank" -> PlanStats(shuffleExchanges = 5, broadcastJoins = 0, sortMergeJoins = 5, cartesians = 0))

  test("pinned set covers exactly the headline queries") {
    assert(pinned.keySet === PlanPin.pinned.toSet,
      s"PlanPin.pinned and PlanPinSpec drifted: only-in-spec=${pinned.keySet -- PlanPin.pinned}, " +
        s"only-in-tool=${PlanPin.pinned.toSet -- pinned.keySet}")
  }

  for (name <- PlanPin.pinned) {
    test(s"$name physical plan matches its pinned fingerprint") {
      PlanPin.withStaticPlans(spark) {
        val actual = PlanPin.stats(SparkEntry.queries(name)(spark, sfDir))
        assert(actual === pinned(name),
          s"$name plan shape drifted — if intentional, regen with " +
            s"`runMain graft.tools.PlanPin` and update PlanPinSpec. " +
            s"expected=${pinned(name)} actual=$actual")
      }
    }
  }
}
