package graft

import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.enrich.Enrichment
import graft.parse.GrokParser
import org.apache.spark.sql.functions._

/** Plan-shape regression tests — the properties that make this engine scale
  * are facts about the OPTIMIZED PLAN, so they are asserted directly:
  * single grok evaluation, broadcast enrich join, pushed parquet filters,
  * whole-stage codegen coverage. */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("all grok evaluations live in one Project (subexpression-elimination domain)") {
    // Catalyst inlines the parse aliases into many expression copies, but as
    // long as every copy sits in a SINGLE Project operator, runtime
    // subexpression elimination evaluates the regex once per row. Copies
    // spread across Filters/Generates would each re-execute it. Checked on
    // every SparkEntry query over the routed stream: their parse has no
    // barrier exchange in front of the route, as in Pipeline.run; and on
    // Pipeline.run's own limited chain under a configured rule that reads a
    // second parsed field. Read at sf0.01: at sf0.001 the limiter drops
    // nothing, so q_limit_dropped's plan folds to an empty relation with no
    // grok left to check.
    val sf01 = sfDir.replace("sf0.001", "sf0.01")
    val routedLeaves = Seq("q_route_counts", "q_routed_rows", "q_sink_agg",
      "q_sink_conv_spans", "q_limit_alerts", "q_limit_buckets", "q_limit_final",
      "q_limit_dropped", "q_resume_antijoin", "q_top_convs")
      .map(name => name -> graft.SparkEntry.queries(name)(spark, sf01))
    val cfg = Pipeline.Config(routeRules = Seq(
      graft.route.RouteRule("sink_err", col("level").isin("ERROR", "WARN")),
      graft.route.RouteRule("sink_status", col("status") === "err")))
    val configured = "configured chain" -> graft.limit.SinglePassLimit.limitReusingShuffle(
      Pipeline.observedFanOut(Transcripts.fromEvents(spark, sf01), cfg)._1, cfg.limitRules)
    def hasGrok(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.exists(_.isInstanceOf[graft.parse.GrokExtract])
    (routedLeaves :+ configured).foreach { case (name, out) =>
      val ops = out.queryExecution.optimizedPlan.collect {
        case p if p.expressions.exists(hasGrok) => p.getClass.getSimpleName
      }
      assert(ops.distinct.toSeq === Seq("Project"),
        s"$name: grok must only appear in Project operators, found $ops")
      assert(ops.size <= 2, s"$name: grok-bearing operators: $ops")
    }
  }

  test("enrichment is a broadcast hash join, not a shuffle join") {
    val enriched = Enrichment.enrich(
      GrokParser.parse(Transcripts.fromEvents(spark, sfDir)), spark)
    val physical = enriched.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical.take(2000))
    assert(!physical.contains("SortMergeJoin"))
  }

  test("the enrichment join is planned only where a dim column is read") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.limit.{RateLimit, SinglePassLimit}
    def leftOuterJoins(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftOuter => j
    }.size
    // under the default rules nothing reads team, cost_class or redact: the
    // run's limited frame, perfbench's fan-out chain and every driver leaf
    // that parses (read at sf0.01, as the grok test above, so the limiter
    // leaves keep their rows)
    val sf01 = sfDir.replace("sf0.001", "sf0.01")
    val turns = Transcripts.fromEvents(spark, sf01)
    val parsingLeaves = Seq("q_route_counts", "q_routed_rows", "q_sink_agg",
      "q_sink_conv_spans", "q_limit_alerts", "q_limit_buckets", "q_limit_final",
      "q_limit_dropped", "q_resume_antijoin", "q_top_convs",
      "q_parse_stats", "q_json_format", "q_meta_flatten")
    val unread = Seq(
      "run" -> SinglePassLimit.limitWithCells(
        Pipeline.observedFanOut(turns)._1, RateLimit.defaultRules())._1,
      "perfbench chain" -> graft.route.Router.fanOut(
        Enrichment.enrich(GrokParser.parse(turns), spark))
        .select(graft.model.RoutedTurn.Columns.map(col): _*)) ++
      parsingLeaves.map(name => name -> graft.SparkEntry.queries(name)(spark, sf01))
    unread.foreach { case (name, df) =>
      assert(leftOuterJoins(df) === 0, s"$name:\n${df.queryExecution.optimizedPlan}")
    }
    // a configured rule on a dim column keeps the one broadcast join, and
    // the dim's dedup adds no shuffle: the limiter's exchange stays the only one
    val cfg = Pipeline.Config(routeRules =
      Seq(graft.route.RouteRule("sink_costly", col("cost_class") === "high")))
    val (limited, _) = SinglePassLimit.limitWithCells(
      Pipeline.observedFanOut(syntheticTurns(), cfg)._1, cfg.limitRules)
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = limited.queryExecution.executedPlan
      val phys = plan.treeString
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.size === 1, phys)
      assert("Exchange hashpartitioning".r.findAllIn(phys).length === 1, phys)
    }
  }

  test("stratified sampling is a pure filter: zero exchanges in the plan") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "und"))
      .toDF("doc_id", "lang")
    val sampled = graft.text.TextAnalysis.stratifiedSample(
      docs, "lang", Map("en" -> 0.5), defaultRate = 0.25)
    val physical = sampled.queryExecution.executedPlan.treeString
    assert(!physical.contains("Exchange"),
      s"mix sampling must not shuffle: $physical")
  }

  test("boilerplate stripping anti-joins the hot set via broadcast, never sort-merge") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cleaned = graft.text.TextAnalysis.stripFrequentUnits(docs, minDf = 30, sep = " ")
    val physical = cleaned.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin") && physical.contains("LeftAnti"),
      physical.take(2000))
    assert(!physical.contains("SortMergeJoin"), physical.take(2000))
  }

  test("column pruning + filter pushdown reach the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_type") === "error")
      .select("event_id", "user_id")
    val formatted = df.queryExecution.executedPlan.toString
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("event_type"),
      s"filter not pushed: $scan")
    assert(!scan.contains("props"), s"column pruning failed: $scan")
  }

  test("route+fanout stays inside whole-stage codegen (no interpreted HOFs)") {
    // static (non-AQE) plan shows WholeStageCodegen wrapping without running
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val routed = graft.route.Router.fanOut(
        GrokParser.parse(Transcripts.fromEvents(spark, sfDir)))
      val physical = routed.queryExecution.executedPlan.treeString
      // the targets construction must not use higher-order array functions
      assert(!physical.contains("ArrayFilter") && !physical.contains("ArrayTransform"),
        "router must avoid interpreted higher-order functions")
      // codegen stages appear as *(n) markers in treeString
      assert(physical.contains("*("), physical.take(1500))
      // the grok project itself is inside a codegen stage: its Project line
      // carries the *(n) codegen marker
      val grokLine = physical.split("\n").find(_.contains("grok_extract")).get
      assert(grokLine.trim.stripPrefix("+- ").stripPrefix(":- ").startsWith("*("),
        s"grok project not codegen'd: $grokLine")
    }
  }

  /** Synthetic turns round-tripped through parquet: the events-derived
    * fixture adds a row_number window (its own exchange) that exists only to
    * DERIVE the sandbox table — production transcripts arrive with turn_idx
    * (DESIGN.md) — and a raw LocalRelation would be eagerly collapsed by
    * ConvertToLocalRelation, leaving no plan to inspect. */
  private def syntheticTurns(): org.apache.spark.sql.DataFrame = {
    val turnsDir = java.nio.file.Files.createTempDirectory("graft-psp").toString
    Transcripts.synthetic(spark, nConvs = 20, turnsPerConv = 10)
      .write.mode("overwrite").parquet(turnsDir)
    spark.read.parquet(turnsDir)
  }

  test("single-pass staged plan: grok only in Projects (CSE domain), ONE exchange") {
    // the single-pass path drops the post-parse barrier exchange, so this
    // asserts, on the plan Pipeline.run hands to the limiter (observe nodes
    // in place), the two facts that make that safe+fast: every grok copy
    // stays inside a Project (whole-stage codegen subexpression elimination
    // ⇒ one regex exec per row), and no shuffle runs before the limiter's
    // own (sink, bucket, salt) exchange — the job's one shuffle.
    val (fanned, _) = Pipeline.observedFanOut(syntheticTurns())
    def hasGrok(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.exists(_.isInstanceOf[graft.parse.GrokExtract])
    val optimized = fanned.queryExecution.optimizedPlan
    val ops = optimized.collect {
      case p if p.expressions.exists(hasGrok) => p.getClass.getSimpleName
    }
    assert(ops.nonEmpty && ops.distinct.toSeq === Seq("Project"),
      s"grok must only appear in Project operators, found $ops")
    val observed = optimized.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c.name
    }
    assert(observed.toSet === Set("graft_scan", "graft_parse", "graft_route"))
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val phys = fanned.queryExecution.executedPlan.treeString
      // shuffle exchanges only — the enrich BroadcastExchange is expected
      val exchanges = "Exchange hashpartitioning".r.findAllIn(phys).length
      assert(exchanges === 0, s"no shuffle may run before the limiter's:\n$phys")
      assert(!phys.contains("SortMergeJoin"))
    }
  }

  test("limiter plan: one exchange, CellTap below it, ApplyVerdicts above, no RDD scan") {
    // the limiter is planned as two operators around its one exchange — no
    // RDD round trip (an RDD scan re-projects every row), and the map-side
    // sums and the verdicts sit on either side of the same shuffle
    import graft.limit.{ApplyVerdictsExec, CellTapExec, RateLimit, SinglePassLimit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (fanned, _) = Pipeline.observedFanOut(syntheticTurns())
    val limited = SinglePassLimit.limitReusingShuffle(fanned, RateLimit.defaultRules())
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = limited.queryExecution.executedPlan
      val phys = plan.treeString
      assert("Exchange hashpartitioning".r.findAllIn(phys).length === 1, phys)
      assert(!phys.contains("Scan ExistingRDD"), phys)
      val applies = plan.collect { case a: ApplyVerdictsExec => a }
      assert(applies.size === 1, phys)
      val exchanges = applies.head.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, phys)
      assert(exchanges.head.collect { case t: CellTapExec => t }.size === 1, phys)
      assert(plan.collect { case t: CellTapExec => t }.size === 1, phys)
    }
  }

  test("LSH banding plans are HOF-free (no interpreted ArrayTransform/ArrayFilter)") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform}
    def hofOps(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case p if p.expressions.exists(_.exists(e =>
          e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ArrayFilter])) =>
          p.getClass.getSimpleName
      }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val banded = graft.dedup.MinHashLSH.bandedKeys(
      docs, graft.dedup.MinHashLSH.Params(), "text", "doc_id")
    assert(hofOps(banded).isEmpty, s"minhash banding uses HOFs: ${hofOps(banded)}")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nd = graft.similarity.Ann.cosineNearDupPairs(emb, threshold = 0.9)
    assert(hofOps(nd).isEmpty, s"cosine banding uses HOFs: ${hofOps(nd)}")
    val topk = graft.similarity.Ann.lshTopK(emb.limit(5), emb, k = 3)
    assert(hofOps(topk).isEmpty, s"ann banding uses HOFs: ${hofOps(topk)}")
  }

  test("LSH candidate dedup: id-only exchanges (embeddings never shuffle), HOF-free pairing") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      // every exchange in the candidate-pair stage carries ids only — the
      // round-3 formulation shuffled both embedding arrays through the
      // distinct (~2·d·4 bytes per candidate instead of 16)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cands = graft.similarity.Ann.candidatePairs(emb)
      val exchanges = cands.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      val embCols = exchanges.flatMap(_.output).filter(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
      assert(embCols.isEmpty, s"embedding columns cross candidate exchanges: $embCols")
      // the full MinHash pairs plan (incl. in-bucket pairing, round 4's
      // generator chain) carries no interpreted lambda HOF anywhere
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val pairs = graft.dedup.MinHashLSH.nearDupPairs(docs)
      val hofs = pairs.queryExecution.optimizedPlan.collect {
        case p if p.expressions.exists(_.exists(e =>
          e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ArrayFilter] ||
            e.isInstanceOf[ArrayAggregate])) => p.getClass.getSimpleName
      }
      assert(hofs.isEmpty, s"interpreted HOFs in minhash pairs plan: $hofs")
    }
  }

  test("limit-chain plan reuses the salted exchange instead of rescanning") {
    val (fanned, _) = Pipeline.observedFanOut(Transcripts.fromEvents(spark, sfDir))
    val routed = graft.limit.SinglePassLimit.limitReusingShuffle(fanned,
      graft.limit.RateLimit.defaultRules())
    val physical = routed.queryExecution.optimizedPlan.toString
    val scans = "parquet".r.findAllIn(physical).length
    assert(scans <= 1, s"the returned routed plan must scan the fact table once " +
      s"(verdicts come from the one exchange's map side), found $scans:\n" +
      physical.take(3000))
  }
}
