package graft

import graft.graph.PageRank
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Integer PageRank: exact match against a sequential reference model,
  * symmetry/centrality sanity, the mass-conservation law on random graphs,
  * and bit-identical results under different input partitionings (the
  * integer-determinism claim). */
class PageRankSpec extends SparkSpec {

  import spark.implicits._

  private val Scale = 1000000000000L

  /** Sequential reference: same floor-division update, same damping. */
  private def ref(edges: Seq[(String, String)], iters: Int,
      dampPct: Long = 85L): Map[String, Long] = {
    val e = edges.distinct
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    val base = Scale * (100L - dampPct) / (100L * n)
    var rank = nodes.map(_ -> Scale / n).toMap
    for (_ <- 1 to iters) {
      val inSum = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(t => rank(t._1) / out(t._1)).sum
      }
      rank = nodes.map(v => v -> (base + dampPct * inSum.getOrElse(v, 0L) / 100L)).toMap
    }
    rank
  }

  private def run(edges: Seq[(String, String)], iters: Int,
      parts: Int = 4): Map[String, Long] =
    PageRank.ranks(edges.toDF("src", "dst").repartition(parts), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("exact match vs the sequential reference on a bridged two-triangle graph") {
    val tri = (p: String) => Seq((s"${p}1", s"${p}2"), (s"${p}2", s"${p}3"),
      (s"${p}3", s"${p}1"))
    val directed = tri("a") ++ tri("b") ++ Seq(("a1", "b1"))
    val edges = directed ++ directed.map(_.swap) // symmetrize: no dangling
    for (iters <- Seq(1, 3, 5))
      assert(run(edges, iters) === ref(edges, iters), s"iters=$iters")
  }

  test("star graph: the hub out-ranks every leaf") {
    val spokes = (1 to 8).map(i => ("hub", s"leaf$i"))
    val edges = spokes ++ spokes.map(_.swap)
    val r = run(edges, 5)
    assert((1 to 8).forall(i => r("hub") > r(s"leaf$i")),
      s"hub must dominate: $r")
    // leaves are symmetric — identical ranks, exactly
    assert((1 to 8).map(i => r(s"leaf$i")).toSet.size === 1)
  }

  test("dangling nodes keep base rank and forward nothing") {
    // c is a sink: a->c, b->c, a<->b
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("b", "c"))
    val got = run(edges, 4)
    assert(got === ref(edges, 4))
    assert(got("c") > got("a"), "the sink accumulates without forwarding")
  }

  test("a node with out-edges but no in-edges ranks exactly base") {
    // s feeds the a-b-c path but nothing points at s: only its (s, 0)
    // carrier row reaches the aggregate, so its rank is the base alone
    val core = Seq(("a", "b"), ("b", "c"))
    val edges = core ++ core.map(_.swap) ++ Seq(("s", "a"))
    val got = run(edges, 3)
    assert(got === ref(edges, 3))
    assert(got("s") === Scale * 15L / (100L * 4L))
  }

  test("law: mass is conserved up to floor losses on random graphs") {
    val nodeGen = Gen.choose(0, 19).map(i => s"n$i")
    val edgeGen = Gen.listOfN(60, Gen.zip(nodeGen, nodeGen))
      .map(_.filter(t => t._1 != t._2))
    for (seed <- 1L to 3L) {
      val base = edgeGen(Gen.Parameters.default, Seed(seed)).get
      val edges = (base ++ base.map(_.swap)).distinct // symmetric: no leak paths
      val r = run(edges, 5)
      val n = r.size.toLong
      val total = r.values.sum
      // each iteration floors once per edge-contribution, once per damped
      // update, once in base: loss < (edges + 2n) per iteration
      val maxLoss = 5L * (edges.size.toLong + 2 * n) + n
      assert(total <= Scale, s"seed $seed: mass created: $total")
      assert(total >= Scale - maxLoss, s"seed $seed: lost too much: $total")
      assert(r === ref(edges, 5), s"seed $seed reference mismatch")
    }
  }

  test("bit-identical ranks under different input partitionings") {
    val base = (0 until 40).flatMap(i =>
      Seq((s"n$i", s"n${(i * 7 + 1) % 40}"), (s"n${(i * 7 + 1) % 40}", s"n$i")))
    assert(run(base, 5, parts = 2) === run(base, 5, parts = 17))
  }

  test("assumeDistinct on a provably-distinct edge set is bit-identical to the default") {
    val base = (0 until 25).flatMap(i =>
      Seq((s"u$i", s"v${(i * 11 + 2) % 25}"), (s"v${(i * 11 + 2) % 25}", s"u$i"))).distinct
    val df = base.toDF("src", "dst").repartition(5)
    val want = PageRank.ranks(df, 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = PageRank.ranks(df, 4, assumeDistinct = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("plan: prepaid edge layout — per-iteration cost is one exchange, one SMJ") {
    // the loop-invariant (src, dst, outdeg) set is partitioned+sorted BEFORE
    // its localCheckpoint, which captures the layout into the LogicalRDD —
    // so each iteration's one join reads a pre-partitioned, pre-sorted edge
    // side and only the rank update shuffles (the one aggregate by node,
    // with the base-rank carriers folded in). The round-6 plan paid 3 SMJs
    // and 2 exchanges per iteration, round 7 still 2 SMJs (a left join back
    // onto the node set); a count above the bound is one of them returning.
    val edges = (0 until 30).flatMap(i =>
      Seq((s"a$i", s"b${(i * 3 + 1) % 30}"), (s"b${(i * 3 + 1) % 30}", s"a$i")))
      .toDF("src", "dst")
    graft.tools.PlanPin.withStaticPlans(spark) {
      val iters = 4
      val plan = PageRank.ranks(edges, iters).queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      val smjs = "SortMergeJoin".r.findAllIn(plan).length
      assert(smjs <= iters, s"SMJ count $smjs > $iters:\n$plan")
      assert(exchanges <= iters + 1, s"exchange count $exchanges > ${iters + 1}:\n$plan")
    }
  }
}
