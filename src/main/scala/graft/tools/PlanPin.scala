package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan fingerprinting for the headline queries.
  *
  * [[PlanPin.stats]] reduces an executed plan to the counts that encode its
  * scale story — shuffle exchanges, broadcast joins, sort-merge joins,
  * cartesian products — and `PlanPinSpec` pins those counts per headline
  * query, so a "first plan that worked" regression (a dropped broadcast, an
  * extra exchange, a join flipping to cartesian) fails CI instead of only
  * surfacing as a bench delta next round.
  *
  * Run `graft.tools.PlanPin <sfDir>` to print the current table when a plan
  * changes INTENTIONALLY; paste the new row into PlanPinSpec with a note.
  * AQE is disabled for the snapshot: an AQE plan before its first action is
  * an unfinalized shell, and static shape is what's being pinned. */
object PlanPin {

  final case class PlanStats(
      shuffleExchanges: Int,
      broadcastJoins: Int,
      sortMergeJoins: Int,
      cartesians: Int,
      nestedLoopJoins: Int = 0) {
    override def toString: String =
      s"PlanStats(shuffleExchanges = $shuffleExchanges, broadcastJoins = $broadcastJoins, " +
        s"sortMergeJoins = $sortMergeJoins, cartesians = $cartesians" +
        (if (nestedLoopJoins != 0) s", nestedLoopJoins = $nestedLoopJoins" else "") + ")"
  }

  private def countOf(plan: String, pattern: String): Int =
    pattern.r.findAllIn(plan).length

  def stats(df: DataFrame): PlanStats = {
    val plan = df.queryExecution.executedPlan.toString
    PlanStats(
      shuffleExchanges = countOf(plan,
        "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"),
      // BNLJ counted SEPARATELY: an equi-join degrading to a nested-loop
      // join is exactly the regression class the pin exists to catch — in
      // one bucket with BHJ the fingerprint would not change
      broadcastJoins = countOf(plan, "BroadcastHashJoin"),
      sortMergeJoins = countOf(plan, "SortMergeJoin"),
      cartesians = countOf(plan, "CartesianProduct"),
      nestedLoopJoins = countOf(plan, "BroadcastNestedLoopJoin"))
  }

  /** The headline queries whose shapes are pinned, and which Bench times:
    * a subset of SparkEntry.queries that represents each operator family
    * without double-running near-identical plans. */
  val pinned: Seq[String] = Seq(
    "q_routed_rows", "q_sink_agg", "q_conv_spans", "q_enrich_agg",
    "q_limit_final", "q_dedup_exact", "q_minhash_pairs", "q_simhash",
    "q_ann_lsh", "q_token_stats", "q_quality", "q_langid",
    // round-3 flagship: the 8-stage curation DAG as one linear plan.
    // (q_ann_pq is excluded: its time is ~95% one-off k-means index BUILD,
    // which would misrepresent the query phase — the ANN query family is
    // already represented by q_ann_lsh.)
    "q_curation_full",
    // round-4 relational join family: the fact⋈fact shuffle join with a
    // broadcast dim (Q3-shaped) and the 6-way Q5-shaped join
    "q_tpch_revenue", "q_tpch_nation_volume",
    // round-5: the same Q3 shape over BUCKETED facts — the ingest-prepaid
    // (zero-exchange) join; its bucketed tables are written once in Bench's
    // phase-3 warm-up (that shuffle is the INGEST cost by design, not a
    // per-query cost — timing it per rep would misstate both stories)
    "q_tpch_bucketed_revenue",
    // round-5 operator wave: broadcast as-of join (codegen binary search),
    // CDC changelog compaction (group-limit winners + anti-join), funnel
    // (N chained windows over one exchange)
    "q_asof_config", "q_cdc_upsert", "q_funnel",
    // round-6: interval⋈interval overlap join (both sides binned,
    // exactly-once via the first-overlap-bucket rule) and sweep-line
    // interval density (two-level distributed prefix sum)
    "q_overlap_sessions", "q_interval_density",
    // round-6: file-level data skipping — the read-time payoff of the
    // z-ordered layout (ingest, like bucketing, is prepaid in the phase-3
    // warm-up; the timed reps measure what a point/box query costs forever
    // after: a manifest read + the few intersecting files)
    "q_skipping_read",
    // round-6: dynamic partition pruning — the runtime hot-month dim prunes
    // the partitioned fact scan to k of ~80 month dirs (ingest prepaid)
    "q_dpp_hot_months",
    // round-6 operator wave 2: rolling median/MAD anomaly flags (one window
    // per key over the aggregated series), BM25 retrieval (zero-exchange:
    // stats pass + TakeOrdered scan), and integer PageRank (5 iterations of
    // src-join + dst-agg over the supplier⋈customer graph — the iterative
    // shuffle workload the headline otherwise lacks)
    "q_anomaly", "q_bm25", "q_pagerank")

  def withStaticPlans[A](spark: SparkSession)(body: => A): A =
    graft.Session.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")(body)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the test session's width, so the printed rows are PlanPinSpec's
    val spark = graft.Session.local("graft-planpin", 4)
    withStaticPlans(spark) {
      pinned.foreach { name =>
        val st = stats(graft.SparkEntry.queries(name)(spark, sfDir))
        println(f"""    "$name" -> $st,""")
      }
    }
    spark.stop()
  }
}
