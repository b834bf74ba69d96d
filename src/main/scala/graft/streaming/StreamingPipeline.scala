package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.Turn

/** Structured Streaming analog of the batch pipeline (SURVEY.md §2.9).
  *
  * The reference is a continuous pipeline with processing-time limiter
  * windows and no event-time machinery; the streaming translation upgrades
  * that to event-time: `withWatermark` bounds state, tumbling `window(ts)`
  * aggregates per sink replace the limiter's TTL'd bucket map
  * (reference limiter/limiter.go:71-95), and the file-source's exactly-once
  * offsets+checkpoint replace the Consul-KV dedup set
  * (reference source/nomad/worker.go:114-127).
  *
  * Scale notes: parse/route are stateless projections (a stream routes
  * through [[graft.pipeline.Pipeline.routed]], as batch does); the only
  * stateful operator is the windowed agg whose state is bounded by
  * watermark horizon × sink count — O(small), no per-conversation state.
  */
object StreamingPipeline {

  /** [[Turn]]'s fields, every one nullable as a file source reads them. */
  val turnSchema: StructType =
    StructType(Encoders.product[Turn].schema.map(_.copy(nullable = true)))

  /** File-stream source over a directory of turn parquet files — the
    * streaming stand-in for the reference's TCP sources; new-file discovery
    * replaces the allocation-pool diff (reference source/nomad/pool.go:24-63). */
  def readTurns(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(turnSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Watermarked stream-stream INNER join — the streaming form of the
    * fact⋈fact equi-join (two live fact streams matched on a key within an
    * event-time band). Both sides carry watermarks and the join predicate
    * bounds their event-time distance, so Spark can size the join state:
    * each side's buffered rows are evicted once the other side's watermark
    * passes `key time + maxEventTimeGap` — state is O(rows within the gap
    * horizon), not O(stream). Without the time bound a stream-stream inner
    * join must buffer EVERYTHING forever; the bound is what makes the
    * operator runnable at 100 TB/day.
    *
    * Generic over schemas: `leftTimeCol`/`rightTimeCol` name the event-time
    * columns, `joinKeys` builds the equi-join condition from the two
    * watermarked sides (a Column built against the passed frames, so shared
    * column names resolve unambiguously and nothing is spliced into a raw
    * SQL string), `maxEventTimeGap` the band.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      joinKeys: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      leftTimeCol: String, rightTimeCol: String,
      maxEventTimeGap: String = "120 days",
      watermark: String = "30 days"): DataFrame = {
    val l = left.withWatermark(leftTimeCol, watermark)
    val r = right.withWatermark(rightTimeCol, watermark)
    // the time band is Column arithmetic over side-qualified columns — only
    // the gap LITERAL goes through expr(), and it is validated as an interval
    // before the plan is built (fail fast at call time, not analysis time)
    val gap = expr(s"interval $maxEventTimeGap")
    l.join(r,
      joinKeys(l, r) &&
        r(rightTimeCol) >= l(leftTimeCol) &&
        r(rightTimeCol) <= l(leftTimeCol) + gap)
  }

  /** Streaming as-of enrichment: each stream row picks the latest snapshot
    * at-or-before its event time from a SMALL static history — "which config
    * version was active when this event happened", on a live stream. The
    * broadcast as-of ([[graft.temporal.TemporalJoin.asofJoinBroadcast]]) is
    * the only as-of form a stream can run: it is STATELESS (per-key sorted
    * snapshot arrays broadcast, codegen binary search per row — no window
    * over the stream, no watermark, no state store), and the static side
    * is re-planned every micro-batch, so a refreshed snapshot history is
    * picked up without a restart.
    * StreamingSpec proves batch parity on the same input. */
  def asofEnrichedStream(events: DataFrame, snapshots: DataFrame,
      keys: Seq[String], probeTs: String, buildTs: String): DataFrame =
    graft.temporal.TemporalJoin.asofJoinBroadcast(events, snapshots, keys, probeTs, buildTs)

  /** Per-sink tumbling-window byte totals with a watermark — the streaming
    * form of the rate-limit bucket store (L1). */
  def sinkWindowBytes(
      routed: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    routed
      .withWatermark("ts", watermark)
      .groupBy(col("sink"), org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("turns"), sum(octet_length(col("text"))).as("bucket_bytes"))
      .select(col("sink"), col("window.start").as("bucket"),
        col("turns"), col("bucket_bytes"))

  /** Streaming conversation sessionization — the event-time twin of the
    * batch gap operator ([[graft.agg.Sessionize]], which uses the same
    * half-open `>=` boundary as `session_window` so the two agree on every
    * input including exact-gap boundaries): one session row per
    * (conv_id, gap-merged window), emitted once the watermark
    * closes the session. State is one open window per active conversation,
    * expired by the watermark — bounded by (active convs within horizon),
    * never total history. */
  def sessionAgg(
      turns: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .groupBy(col("conv_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_turns"),
        min(unix_micros(col("ts").cast("timestamp"))).as("start_us"),
        max(unix_micros(col("ts").cast("timestamp"))).as("end_us"))
      .select(col("conv_id"), col("n_turns"), col("start_us"), col("end_us"))

  /** Streaming exact dedup: drop (conv_id, turn_idx) duplicates ACROSS
    * micro-batches within the watermark horizon — the streaming form of the
    * reference's Consul-KV per-event dedup set (source/nomad/worker.go:
    * 114-127: an at-least-once source re-emits; the dedup set makes delivery
    * effectively-once). `dropDuplicatesWithinWatermark` keeps per-key state
    * only until the watermark passes the key's event time, so state is
    * bounded by (horizon × arrival rate), matching the reference's TTL'd KV
    * entries — a plain `dropDuplicates` on a stream would accrete keys
    * forever at 10^12-turn scale. */
  def dedupedStream(turns: DataFrame, watermark: String = "2 hours"): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  /** Ready-to-start writer for the windowed aggregate into a memory sink
    * (tests); [[foreachBatchSink]] is the production path. */
  def memorySinkQuery(agg: DataFrame, name: String): DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream
      .outputMode(OutputMode.Update)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())

  /** PRODUCTION sink path: every micro-batch of routed rows (a
    * [[graft.pipeline.Pipeline.routed]] stream) lands in
    * per-sink committed parquet through the manifest's write-then-commit
    * ([[graft.manifest.Manifest.commitStreamBatch]]) — the streaming
    * completion of the batch pipeline's effectively-once story (reference
    * analog: the Consul-KV dedup set making an at-least-once source
    * effectively-once, source/nomad/worker.go:114-127). The source
    * checkpoint pins (batchId → offsets), foreachBatch replays a failed
    * batch with the same id and rows, and the manifest's idempotent per-sink
    * promotion turns that at-least-once delivery into exactly-once sink
    * contents — a killed stream restarted on the same checkpoint produces
    * zero duplicate routed rows (StreamingSpec kill/restart test).
    *
    * `Trigger.AvailableNow` drains what exists and stops — the batch-job
    * form; pass a processing-time trigger for a long-lived tail. */
  def foreachBatchSink(routed: DataFrame, manifestRoot: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val m = new graft.manifest.Manifest(manifestRoot)
    routed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        m.commitStreamBatch(batch, batchId)
      }
  }
}
