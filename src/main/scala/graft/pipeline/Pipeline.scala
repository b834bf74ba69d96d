package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Transcripts
import graft.parse.GrokParser
import graft.enrich.Enrichment
import graft.route.{RouteRule, Router}
import graft.limit.{LimitRule, RateLimit, SinglePassLimit}
import graft.manifest.{Manifest, Records}
import graft.manifest.Records.{ParseCounts, RouteCounts, RunRecord, ScanCounts, SinkCounters,
  Stages}

/** End-to-end job: scan → parse → enrich → route → fan-out → rate-limit →
  * per-sink writes + manifest commit + metrics.
  *
  * This is the Spark translation of the reference's `log-shipper run`
  * lifecycle (reference cmd/run.go:49-97, SURVEY.md §3.1): the YAML routing
  * config becomes [[RouteRule]]s compiled to Catalyst expressions; the
  * broker/worker goroutine graph becomes ONE declarative Dataset chain that
  * Catalyst plans; the Consul-KV dedup set becomes the write-then-commit
  * manifest.
  *
  * Scale design:
  *  - single scan of the fact table feeds every sink (array+explode router,
  *    not per-sink scans);
  *  - the job's one shuffle is the limiter's (sink, bucket, salt) exchange:
  *    its map side sums each (sink, bucket) cell, and the verdicts are
  *    applied to the rows as they leave it — no verdict join;
  *  - the salt in that exchange's key spreads a hot conversation over many
  *    write tasks, so one conversation cannot pin a single output task
  *    (reference analog: one slow target blocking its channel,
  *    broker/connector.go:315-318 — unhandled there; SkewSpec checks it);
  *  - AQE enabled in session conf handles residual skew at runtime.
  */
object Pipeline {

  final case class Config(
      routeRules: Seq[RouteRule] = Router.defaultRules,
      limitRules: Seq[LimitRule] = RateLimit.defaultRules()
  )

  /** The one frame route rules resolve against on every path: the six
    * input columns, the parsed `level`, `dur_ms`, `status`, `payload` and
    * the enrichment's `team`, `cost_class`, `redact`. Catalyst prunes the
    * fields nothing reads, the enrichment join with them when no dim column
    * is read; grok stays in one Project (PlanShapeSpec). */
  def routable(turns: DataFrame): DataFrame =
    Enrichment.enrich(GrokParser.parse(turns), turns.sparkSession)

  /** [[routable]] fanned out, one row per (turn, sink): what the stream, the
    * bench child and the driver queries route ([[observedFanOut]] adds counters). */
  def routed(turns: DataFrame, rules: Seq[RouteRule] = Router.defaultRules): DataFrame =
    Router.fanOut(routable(turns), rules)

  /** The parse alone; kept only because `perfbench/Workloads.scala` calls it. */
  def parsedProjected(turns: DataFrame): DataFrame = GrokParser.parse(turns)

  /** The per-stage counters of one [[observedFanOut]] plan. Each is a
    * standard `Observation`, complete once an action over that plan ran. */
  final class StageCounters {
    val scan: Observation = Observation(ObsScan)
    val route: Observation = Observation(ObsRoute)
  }

  /** scan → parse → enrich → route → fan-out, with the per-stage counters
    * in place: the plan [[run]] hands to the limiter. It adds no shuffle
    * ([[routable]]), so the limiter's (sink, bucket, salt) exchange is the
    * job's one shuffle beyond whatever `turns` carries.
    *
    * Per-STAGE counters (reference /api/sources + /api/workers parity,
    * web/api/sources.go:30-89, workers.go:27-84): each stage reports its own
    * rows — runtime-visible metrics with zero extra passes, complete once
    * the staging write ran. Two observations, because each one is a
    * non-codegen operator that splits the hot stage's generated code: the
    * scan count below the enrichment join, and the parse and route counts
    * together on the targeted frame above it (the join is 1:1 by plan, the
    * dim declares its key), so the conservation checks still compare
    * counts taken on either side of it. Conservation invariants (asserted
    * in ManifestSpec): scan_rows = parse_ok + parse_quarantined; route_in =
    * scan_rows; fanout_rows ≥ route_in (fan-out duplicates); dead-letter
    * routed rows = quarantined + unmatched. */
  def observedFanOut(turns: DataFrame, cfg: Config = Config()): (DataFrame, StageCounters) = {
    val counters = new StageCounters
    val scanned = turns.observe(counters.scan, count(lit(1)).as("rows"))
    val targeted = Router.withTargets(routable(scanned), cfg.routeRules)
      .observe(counters.route,
        sum(when(col("level").isNotNull, 1L).otherwise(0L)).as("rows_ok"),
        sum(when(col("level").isNull, 1L).otherwise(0L)).as("rows_quarantined"),
        count(lit(1)).as("rows_in"),
        sum(when(col("targets") === array(lit(Router.DeadLetter)), 1L)
          .otherwise(0L)).as("rows_dead_letter"))
    (Router.explodeTargets(targeted), counters)
  }

  private val ObsScan = "graft_scan"
  private val ObsRoute = "graft_route"

  /** Full run with single-pass limiting, per-sink promotion, manifest commits
    * and resume. Returns the per-sink aggregate DataFrame (also persisted as
    * metrics).
    *
    * Shape (DESIGN.md "data movement"): ONE data query — [[observedFanOut]]
    * into [[SinglePassLimit.limitWithCells]] (one (sink, bucket, salt)
    * exchange whose map side sums each (sink, bucket) cell's bytes and rows,
    * with the verdicts applied above it) into the survivors' one staging
    * write ([[Manifest.stage]], unit `run`); committing a sink = one atomic
    * directory rename + manifest entry. The commit stats need no pass over
    * the rows: per-sink rows/bytes and the in/out/dropped counters come from
    * the post-chain cells, the stage counters from the write's observations,
    * and distinct convs from one conv_id-only scan of the staged files. The
    * returned frame is built on the driver from the committed entries.
    *
    * Resume note: a resumed run re-stages ALL sinks — limiter verdicts must
    * see the full (sink, bucket) volumes, including buckets whose sink is
    * already committed, or fallback accounting would change across a resume.
    * Only uncommitted sinks are promoted.
    *
    * `runId` must pass [[Records.requireName]], checked before any Spark
    * job runs; sink names are checked when their rules are built.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      outRoot: String,
      runId: String,
      cfg: Config = Config(),
      failAfterSinks: Int = Int.MaxValue // test hook: simulate a mid-job kill
  ): DataFrame = {
    Records.requireName("run id", runId)
    val (fanned, counters) = observedFanOut(Transcripts.fromEvents(spark, sfDir), cfg)

    val manifest = new Manifest(outRoot)

    // The limiter's map-side sums are exactly-once only if each map
    // partition's row multiset is deterministic and the sums ignore row
    // order. Both hold here: scan → parse → enrich → route is a pure function
    // of the input files, and the sums are additions.
    val (survivors, verdicts) = SinglePassLimit.limitWithCells(fanned, cfg.limitRules)
    val (cells, perSink) = manifest.stage(survivors, "run") { staged =>
      val cells = verdicts.cells
      // The per-sink in/out/dropped counters come from the limiter's verdict
      // cells, i.e. they were observed DURING the run with zero extra passes —
      // the reference's live per-connection Stats (monitoring/stats.go:10-118,
      // served at web/api/targets.go:43-121). A sink's out counters are its
      // exact commit stats: the rows and bytes the chain left in it.
      val perSink = cells.flatMap { c =>
        Seq(c.origSink -> SinkCounters(inRows = c.rows, inBytes = c.bytes),
          if (c.curSink == null) c.lastSink -> SinkCounters(droppedRows = c.rows, droppedBytes = c.bytes)
          else c.curSink -> SinkCounters(outRows = c.rows, outBytes = c.bytes))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val convs = staged.perSink(countDistinct(col("conv_id")))
      staged.sinks.filterNot(manifest.committedSinks()).take(failAfterSinks).foreach { sink =>
        val out = perSink(sink)
        manifest.promoteAndCommit(sink, staged.dir(sink), runId,
          out.outRows, out.outBytes, convs(sink).getLong(0))
      }
      (cells, perSink)
    }

    // Persist the observed run metrics next to the lineage entries (A1/A2):
    // the per-sink counters above, and the per-stage counters (sources/workers
    // parity) observed on the staging write; see the conservation invariants
    // at [[observedFanOut]]
    def n(o: Observation, field: String): Long = o.get(field).asInstanceOf[Long]
    val routedRows = cells.map(_.rows).sum
    val stages = Stages(ScanCounts(n(counters.scan, "rows")),
      ParseCounts(n(counters.route, "rows_ok"), n(counters.route, "rows_quarantined")),
      RouteCounts(n(counters.route, "rows_in"), n(counters.route, "rows_dead_letter"), routedRows))
    manifest.writeRun(RunRecord(runId, routedRows, cells.map(_.bytes).sum,
      cells.map(_.origSink).distinct.length, stages, perSink))

    // Final per-sink aggregate FROM THE MANIFEST ENTRIES — the commit stats
    // already hold rows/bytes/convs per sink, so re-reading every committed
    // sink's parquet here (the round-1 shape) would be a complete second
    // read of all written data at the 100 TB design point. The manifest IS
    // the aggregate: a few small JSON files, read on the driver.
    val rows = manifest.sinkEntries().sortBy(_.sink)
      .map(e => Row(e.sink, e.rowCount, e.bytes, e.convs))
    spark.createDataFrame(rows.asJava, ResultSchema)
  }

  private val ResultSchema = StructType.fromDDL("sink STRING, turns LONG, bytes LONG, convs LONG")
}
