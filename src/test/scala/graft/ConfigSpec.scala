package graft

import java.nio.file.Files

import graft.config.PipelineConfig
import graft.manifest.Manifest
import graft.model.Transcripts
import graft.parse.GrokParser
import graft.route.Router
import graft.limit.{LimitRule, SinglePassLimit}
import graft.pipeline.Pipeline
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** YAML config → Catalyst compilation parity with the programmatic rules
  * (reference config round-trip tests, config/config_test.go:15-200). */
class ConfigSpec extends SparkSpec {

  private val yaml =
    """routes:
      |  - sink: sink_a
      |    predicate: "tool = 'bash' AND role = 'assistant'"
      |  - sink: sink_b
      |    predicate: "role = 'tool'"
      |  - sink: sink_err
      |    predicate: "level IN ('ERROR', 'WARN')"
      |  - sink: sink_search
      |    predicate: "tool = 'search'"
      |limits:
      |  - sink: sink_search
      |    throughput: 10KB
      |    average_over: 3
      |    action: fallback
      |    fallback: sink_fallback
      |  - sink: sink_fallback
      |    throughput: 5KB
      |    average_over: 3
      |    action: discard
      |""".stripMargin

  test("byte-size parsing (reference P9 semantics)") {
    assert(PipelineConfig.parseBytes("10KB") === 10240L)
    assert(PipelineConfig.parseBytes("2MB") === 2097152L)
    assert(PipelineConfig.parseBytes("512") === 512L)
    assert(PipelineConfig.parseBytes("1.5KB") === 1536L)
  }

  test("invalid configs are rejected (reference F5 validators)") {
    intercept[IllegalArgumentException](PipelineConfig.fromYaml("routes: []"))
    intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      "routes:\n  - sink: \"bad name!\"\n    predicate: \"role = 'x'\""))
    intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      """routes:
        |  - sink: a
        |    predicate: "role = 'x'"
        |limits:
        |  - sink: a
        |    throughput: 1KB
        |    action: explode
        |""".stripMargin))
    intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      """routes:
        |  - sink: a
        |    predicate: "role = 'x'"
        |limits:
        |  - sink: a
        |    throughput: 1KB
        |    action: fallback
        |""".stripMargin))
    intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      """routes:
        |  - sink: a
        |    predicate: "role = 'x'"
        |limits:
        |  - sink: a
        |    throughput: 1KB
        |    average_over: 0
        |    action: discard
        |""".stripMargin))
    // an empty value or a key fromYaml does not read is refused, naming the
    // key, instead of failing with an NPE or silently falling back to a default
    def refuses(yaml: String, key: String): Unit = {
      val e = intercept[IllegalArgumentException](PipelineConfig.fromYaml(yaml))
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
    }
    val route = "routes:\n  - sink: a\n    predicate: \"role = 'x'\"\n"
    refuses("routes:\n  - sink:\n    predicate: \"role = 'x'\"\n", "sink")
    refuses("routes:\n", "routes")
    refuses(route + "limits:\n  - sink: a\n    throughput: 1KB\n    average_over:\n" +
      "    action: discard\n", "average_over")
    refuses(route + "limits:\n  - sink: a\n    throughput: 1KB\n    average_ovr: 3\n" +
      "    action: discard\n", "average_ovr")
    refuses(route + "salt_bucket: 16\n", "salt_bucket")
    refuses(route + "salt_buckets: 32\n", "salt_buckets")
    refuses("routes:\n  - sink: a\n    predicate: \"role = 'x'\"\n    when: always\n", "when")
    // limit and fallback sinks follow the same name rule as route sinks
    Seq(("a/b", "c"), ("a", "c:d")).foreach { case (sink, fallback) =>
      intercept[IllegalArgumentException](PipelineConfig.fromYaml(
        s"""routes:
           |  - sink: a
           |    predicate: "role = 'x'"
           |limits:
           |  - sink: "$sink"
           |    throughput: 1KB
           |    action: fallback
           |    fallback: "$fallback"
           |""".stripMargin))
    }
  }

  test("a misconfigured limit rule fails when it is built, before any Spark job") {
    // each used to surface only in the limiter's verdict step, after the
    // whole map stage ran (or, for average_over 0, never: 0/0 never breaches)
    def rejects(rule: => Any, msg: String): Unit =
      assert(intercept[IllegalArgumentException](rule).getMessage.contains(msg))
    rejects(LimitRule("sink_search", 50, 1, "fallback", None), "needs a fallback sink")
    rejects(LimitRule("sink_search", 50, 1, "explode", None), "action must be")
    rejects(LimitRule("sink_search", 50, 0, "discard", None), "average_over")
    rejects(LimitRule("sink_search", -1, 1, "discard", None), "negative bytes")
    // a sink becomes a directory name: checked where its rule is built
    rejects(graft.route.RouteRule("a/b", lit(true)), "invalid sink name")
    rejects(LimitRule("sink_search", 50, 1, "fallback", Some("a:b")), "invalid sink name")
    // the valid forms still build: alert and discard need no fallback sink
    LimitRule("sink_search", 50, 1, "alert", None)
    LimitRule("sink_search", 0, 3, "fallback", Some("sink_fallback"))
  }

  test("YAML-configured routing matches the programmatic default rules") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val turns = Transcripts.synthetic(spark, 30, 8)
    val parsed = GrokParser.parse(turns)
    val fromYamlCounts = Router.fanOut(parsed, cfg.routeRules)
      .groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val programmatic = Router.fanOut(parsed, Router.defaultRules)
      .groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromYamlCounts === programmatic)
  }

  test("YAML config drives the full pipeline") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val turns = Transcripts.synthetic(spark, 20, 6)
    val (routed, verdicts) = SinglePassLimit.limitWithCells(
      Pipeline.observedFanOut(turns, cfg)._1, cfg.limitRules)
    assert(routed.count() > 0)
    // the dropped rows are the rows of the cells the chain discarded
    val dropped = verdicts.cells.filter(_.curSink == null).map(_.rows).sum
    assert(dropped >= 0)
    assert(routed.filter(col("sink") === "nonexistent").count() === 0)
  }

  test("a configured rule can name any parsed or enriched field, in the run and in the stream") {
    val dir = Files.createTempDirectory("graft-routable")
    val cfgFile = dir.resolve("routes.yaml")
    Files.writeString(cfgFile,
      """routes:
        |  - sink: sink_status
        |    predicate: "status = 'err'"
        |  - sink: sink_slow
        |    predicate: "dur_ms > 100"
        |  - sink: sink_costly
        |    predicate: "cost_class = 'high'"
        |""".stripMargin)
    val cfg = PipelineConfig.fromFile(cfgFile.toString)
    // no limits: every routed row is committed
    assert(cfg.limitRules.isEmpty)
    val sfDir = "/root/testdata/sf0.001"
    val turns = Transcripts.fromEvents(spark, sfDir)
    def perSink(df: DataFrame): Map[String, Long] =
      df.groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = perSink(Router.fanOut(Pipeline.routable(turns), cfg.routeRules))
    assert(expected.keySet ===
      Set("sink_status", "sink_slow", "sink_costly", Router.DeadLetter))

    val out = dir.resolve("out").toString
    Pipeline.run(spark, sfDir, out, runId = "routable", cfg = cfg)
    assert(new Manifest(out).sinkEntries().map(e => e.sink -> e.rowCount).toMap === expected)

    // the stream over the same turns; its source schema's ts is TIMESTAMP
    val src = dir.resolve("turns").toString
    turns.withColumn("ts", col("ts").cast("timestamp")).write.parquet(src)
    val q = Pipeline.routed(StreamingPipeline.readTurns(spark, src),
        cfg.routeRules)
      .writeStream.format("memory").queryName("routable_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(perSink(spark.table("routable_out")) === expected)
  }
}
