package graft

import org.apache.spark.sql.functions._
import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.limit.{RateLimit, SinglePassLimit}

/** Hot-conversation skew handling (SURVEY.md §7 step 7, north_rule "salted
  * repartitioning"): one conversation owning ~50 % of all rows must not pin a
  * single task. */
class SkewSpec extends SparkSpec {

  test("salted repartition spreads a hot conversation over many partitions") {
    // partition-count measurement needs coalescing off (the tiny fixture
    // otherwise merges to 1 partition regardless of salting): AQE's for the
    // control, the limiter's read-side rule (minPartitionSize) for the
    // salted plan
    Session.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
    // conv-00000 gets 400 extra turns: ~51% of all rows
    val turns = Transcripts.synthetic(spark, nConvs = 39, turnsPerConv = 10,
      hotConvExtraTurns = 400)
    val hotShare = turns.filter(col("conv_id") === "conv-00000").count().toDouble / turns.count()
    assert(hotShare > 0.4, s"fixture must be skewed, got $hotShare")

    // the salt is in the limiter's (sink, bucket, salt) exchange key
    val salted = SinglePassLimit.limitReusingShuffle(
      Pipeline.observedFanOut(turns)._1, Pipeline.Config().limitRules, saltBuckets = 32)
    val sizes = salted
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / sizes.length
    assert(sizes.length > 1)
    assert(sizes.max <= mean * 3,
      s"salting failed: max partition ${sizes.max} vs mean $mean (${sizes.toSeq})")
    // the (sink, bucket) part of the key alone already spreads rows over the
    // 4 partitions within 3x the mean; only the salt keeps the largest below
    // the share the unsalted control concentrates
    assert(sizes.max < sizes.sum * 2 / 5,
      s"salting failed: max partition ${sizes.max} of ${sizes.sum} rows (${sizes.toSeq})")

    // WITHOUT salt (partition by conv only): the hot conv pins one partition
    val unsalted = graft.parse.GrokParser.parse(turns).repartition(col("conv_id"))
    val uSizes = unsalted.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    assert(uSizes.max >= turns.count() * 2 / 5,
      "control: unsalted repartition should concentrate the hot conv")
    }
  }

  test("routing results are identical with and without salting") {
    val turns = Transcripts.synthetic(spark, 20, 6, hotConvExtraTurns = 100)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "sink").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    // rules that discard: sink_search overflows into sink_fallback, which
    // overflows in turn and drops
    val rules = RateLimit.defaultRules(searchLimit = 1000L, fallbackLimit = 500L)
    val routed = graft.route.Router.fanOut(Pipeline.routable(turns))
    val withSalt = SinglePassLimit.limitReusingShuffle(routed, rules, saltBuckets = 32)
    val noSalt = SinglePassLimit.limitReusingShuffle(routed, rules, saltBuckets = 1)
    val spec = canon(RateLimit.apply(routed, rules)._1)
    assert(spec.length < routed.count(), "the rules must drop rows")
    assert(canon(withSalt).sameElements(canon(noSalt)))
    assert(canon(withSalt).sameElements(spec))
  }
}
