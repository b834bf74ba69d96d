package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A single routing rule: rows matching `predicate` are fanned out to `sink`.
  * The reference's analog is the YAML `targets:` edge list compiled at config
  * time (reference cmd/run.go:171-187, config/config.go:22); here the rules
  * compile to Catalyst `Column` expressions, so predicate pushdown / constant
  * folding apply for free (SURVEY.md §4.1). The sink name is checked when
  * the rule is built (reference F5 validators, config/config.go:13). */
final case class RouteRule(sink: String, predicate: Column) {
  graft.manifest.Records.requireName("sink", sink)
}

/** Deterministic predicate router + fan-out.
  *
  * Single-pass design: ONE projection builds an array of matching sink names
  * per row, then `explode` multiplies rows (reference fan-out loop,
  * broker/worker.go:76-82). This scans the fact table exactly once no matter
  * how many sinks exist — the naive per-sink `filter` alternative is k scans.
  * `explode` is a built-in Generator, so the whole route stage stays inside
  * whole-stage codegen with zero shuffles.
  */
object Router {

  val DeadLetter = "dead_letter"

  /** Default topology, mirroring the reference test topologies
    * (cmd/run_test.go 1x1/2x1/1x2/2x2 + dummy.yaml fallback chain):
    *  - sink_a:      tool=bash AND role=assistant
    *  - sink_b:      role=tool
    *  - sink_err:    parsed level IN (ERROR, WARN) (overlaps sink_b ⇒ fan-out dup, the 1×2 case)
    *  - sink_search: tool=search          (rate-limited → fallback, see limit.RateLimit)
    * Unmatched / quarantined → dead_letter.
    * Mirrored EXACTLY by [[graft.Oracles.routedCte]]. */
  def defaultRules: Seq[RouteRule] = Seq(
    RouteRule("sink_a", col("tool") === "bash" && col("role") === "assistant"),
    RouteRule("sink_b", col("role") === "tool"),
    RouteRule("sink_err", col("level").isin("ERROR", "WARN")),
    RouteRule("sink_search", col("tool") === "search")
  )

  /** Adds a `targets: array<string>` column. Quarantined rows (null `level`)
    * and rows matching no rule both get [dead_letter].
    *
    * Codegen note: built as a `concat` of per-rule conditional single-element
    * arrays rather than `filter(array(...), isNotNull)` — higher-order
    * functions evaluate their lambdas INTERPRETED (never codegen'd), which
    * profiling showed dominating the fan-out stage; concat/when/array are all
    * whole-stage-codegen'd. */
  def withTargets(parsed: DataFrame, rules: Seq[RouteRule] = defaultRules): DataFrame = {
    val ok = col("level").isNotNull
    val empty = array().cast("array<string>")
    val matched = concat(
      rules.map(r => when(ok && r.predicate, array(lit(r.sink))).otherwise(empty)): _*)
    parsed.withColumn(
      "targets",
      when(size(matched) > 0, matched).otherwise(array(lit(DeadLetter))))
  }

  /** Fan-out: one output row per (turn, sink).
    *
    * explode_outer, not explode: `targets` is never empty (the dead-letter
    * default guarantees size >= 1) so both are semantically identical, but
    * plain explode makes the optimizer infer a `size(targets) > 0` filter
    * that gets pushed down with the whole targets expression (grok
    * included) inlined into it — a Filter outside the one Project where
    * subexpression elimination evaluates grok once, so a second per-row
    * regex run the outer variant avoids. */
  def fanOut(parsed: DataFrame, rules: Seq[RouteRule] = defaultRules): DataFrame =
    explodeTargets(withTargets(parsed, rules))

  /** The explode half of [[fanOut]], for callers that need to interpose on
    * the targeted-but-not-yet-exploded frame (e.g. a per-stage observe()) —
    * the explode_outer rationale above lives in exactly one place. */
  def explodeTargets(targeted: DataFrame): DataFrame =
    targeted
      .withColumn("sink", explode_outer(col("targets")))
      .drop("targets")
}
