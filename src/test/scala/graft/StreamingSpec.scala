package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.streaming.StreamingPipeline
import graft.sources.TurnSources

/** Streaming semantics: the event-time windowed aggregate over the routed
  * stream must equal the batch aggregate over the same files (SURVEY.md §2.9). */
class StreamingSpec extends SparkSpec {

  test("streamed windowed sink bytes equal the batch computation") {
    val dir = Files.createTempDirectory("graft-stream").toString
    Transcripts.synthetic(spark, nConvs = 30, turnsPerConv = 8)
      .write.mode("overwrite").parquet(dir)

    val stream = StreamingPipeline.readTurns(spark, dir, maxFilesPerTrigger = 2)
    val agg = StreamingPipeline.sinkWindowBytes(Pipeline.routed(stream))
    val q = StreamingPipeline.memorySinkQuery(agg, "stream_out").start()
    q.awaitTermination() // AvailableNow terminates after draining
    val streamed = spark.table("stream_out")
      .groupBy("sink", "bucket") // Update mode may emit a window twice; keep last
      .agg(max("turns").as("turns"), max("bucket_bytes").as("bucket_bytes"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3)))
      .toSet

    val batchTurns = spark.read.parquet(dir)
    val batchRouted = graft.route.Router.fanOut(graft.parse.GrokParser.parse(batchTurns))
    val batch = batchRouted
      .groupBy(col("sink"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("turns"), sum(octet_length(col("text"))).as("bucket_bytes"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3)))
      .toSet

    assert(streamed === batch)
  }

  test("stream-static enrichment equals the batch broadcast join, incl. the null path") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-senrich").toString
    Transcripts.synthetic(spark, nConvs = 20, turnsPerConv = 6)
      .write.mode("overwrite").parquet(dir)
    val q = Pipeline.routed(
        StreamingPipeline.readTurns(spark, dir, maxFilesPerTrigger = 2))
      .writeStream.outputMode("append")
      .format("memory").queryName("senrich_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "tool", "team", "cost_class", "sink")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)), r.getString(5))).sorted
    val streamed = canon(spark.table("senrich_out"))
    val batch = canon(graft.route.Router.fanOut(graft.enrich.Enrichment.enrich(
      graft.parse.GrokParser.parse(spark.read.parquet(dir)), spark)))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // the left-join null path (unmatched tool) must survive the stream too
    assert(streamed.exists(_._4.isEmpty) === batch.exists(_._4.isEmpty))
  }

  test("watermarked stream-stream fact join equals the batch join (inner, time-banded)") {
    import org.apache.spark.sql.streaming.Trigger
    // two fact streams: orders and lineitem at sf0.001, joined on orderkey
    // within a shipdate band — the classic fact⋈fact shape, live
    val sf = "/root/testdata/sf0.001"
    // parquet timestamps land NTZ; watermarks need TIMESTAMP — the cast is
    // identity under the pinned UTC session. The file source needs a
    // DIRECTORY, so round-trip each single-file table through a temp dir.
    def stream(path: String, tsCol: String): org.apache.spark.sql.DataFrame = {
      val dir = Files.createTempDirectory("graft-ssj").toString
      spark.read.parquet(path).write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
        .withColumn(tsCol, col(tsCol).cast("timestamp"))
    }
    val joined = StreamingPipeline.streamStreamJoin(
      stream(s"$sf/orders.parquet", "o_orderdate"),
      stream(s"$sf/lineitem.parquet", "l_shipdate"),
      joinKeys = (l, r) => r("l_orderkey") === l("o_orderkey"),
      leftTimeCol = "o_orderdate", rightTimeCol = "l_shipdate")
      .select(col("o_orderkey"), col("l_linenumber"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val streamed = canon(spark.table("ssj_out"))
    val batch = canon(
      spark.read.parquet(s"$sf/orders.parquet")
        .join(spark.read.parquet(s"$sf/lineitem.parquet"),
          expr("l_orderkey = o_orderkey AND l_shipdate >= o_orderdate " +
            "AND l_shipdate <= o_orderdate + interval 120 days"))
        .select(col("o_orderkey"), col("l_linenumber")))
    assert(streamed.nonEmpty && batch.nonEmpty)
    assert(streamed.sameElements(batch),
      s"stream ${streamed.length} rows vs batch ${batch.length}")
  }

  test("foreachBatch production sink: kill/restart on one checkpoint equals the batch pipeline, no dupes") {
    val srcDir = Files.createTempDirectory("graft-fbs-src").toString
    val root = Files.createTempDirectory("graft-fbs-root").toString
    val ckpt = Files.createTempDirectory("graft-fbs-ckpt").toString
    val all = Transcripts.synthetic(spark, nConvs = 20, turnsPerConv = 5)
    val part1 = all.filter(col("conv_id") < "conv-00010")
    val part2 = all.filter(col("conv_id") >= "conv-00010")

    def drain(): Unit = {
      val stream = StreamingPipeline.readTurns(spark, srcDir, maxFilesPerTrigger = 1)
      val q = StreamingPipeline.foreachBatchSink(
        Pipeline.routed(stream), root, ckpt).start()
      q.awaitTermination()
    }
    // phase 1: half the files arrive, stream drains and commits, then "dies"
    part1.coalesce(2).write.mode("overwrite").parquet(srcDir)
    drain()
    val m = new graft.manifest.Manifest(root)
    def committedRows() = m.streamCommittedSinks().toSeq.sorted
      .map(s => m.sinkRows(spark, s).select("conv_id", "turn_idx", "sink", "text"))
      .reduce(_ unionByName _)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sorted.toSeq
    val afterPhase1 = committedRows()
    assert(afterPhase1.nonEmpty)
    // phase 2: the rest arrives; RESTART on the same checkpoint — only new
    // files process, nothing already committed is re-routed
    Thread.sleep(1100) // distinct mtimes => deterministic file discovery
    part2.coalesce(2).write.mode("append").parquet(srcDir)
    drain()
    val finalRows = committedRows()
    val batchExpected = graft.route.Router
      .fanOut(graft.parse.GrokParser.parse(spark.read.parquet(srcDir)))
      .select("conv_id", "turn_idx", "sink", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sorted.toSeq
    assert(finalRows === batchExpected,
      s"streamed sink contents (${finalRows.size}) must equal the batch pipeline (${batchExpected.size})")
    assert(finalRows.distinct.size === finalRows.size, "no duplicate routed rows")
    assert(afterPhase1.toSet.subsetOf(finalRows.toSet), "restart must preserve phase-1 commits")

    // crash-replay edges, deterministically (foreachBatch re-delivers a
    // failed batch with the SAME id and rows — emulate that on a fresh
    // root): a replayed committed batch promotes nothing and appends no
    // audit record, so sink contents never duplicate
    val root2 = Files.createTempDirectory("graft-fbs-root2").toString
    val m2 = new graft.manifest.Manifest(root2)
    val routedBatch = graft.route.Router
      .fanOut(graft.parse.GrokParser.parse(spark.read.parquet(srcDir)))
    m2.commitStreamBatch(routedBatch, 0L)
    def rows2() = m2.streamCommittedSinks().toSeq.sorted
      .map(s => m2.sinkRows(spark, s).select("conv_id", "turn_idx", "sink"))
      .reduce(_ unionByName _).count()
    val (base, log) = (rows2(), m2.snapshotLog())
    // a full replay: the per-sink batch dirs exist, so promotion skips
    // every one — no dupes
    m2.commitStreamBatch(routedBatch, 0L)
    assert(rows2() === base, "existing batch dirs must not be re-promoted")
    assert(m2.snapshotLog() === log, "a full replay must not re-record its commits")
    // the audit log recorded stream commits for every sink
    val snaps = m.snapshots(spark).filter(col("op") === "stream_commit")
    assert(snaps.count() > 0)
  }

  test("streaming dedup drops re-emitted keys across micro-batches, state bounded by watermark") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = Files.createTempDirectory("graft-sdedup").toString
    val base = Transcripts.synthetic(spark, nConvs = 10, turnsPerConv = 5)
    base.coalesce(1).write.mode("overwrite").parquet(dir)
    Thread.sleep(1100) // distinct mtimes => deterministic file->batch order
    // an at-least-once source re-emits a subset (same conv_id/turn_idx) plus one new row
    val reemit = base.filter(col("conv_id") === "conv-00003")
      .unionByName(Transcripts.synthetic(spark, 1, 1)
        .select(lit("conv-99999").as("conv_id"), col("turn_idx"), col("role"),
          col("text"), col("tool"), col("ts")))
    reemit.coalesce(1).write.mode("append").parquet(dir)

    val stream = StreamingPipeline.readTurns(spark, dir, maxFilesPerTrigger = 1)
    val q = StreamingPipeline.dedupedStream(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sdedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.table("sdedup_out")
      .select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(out.length === out.distinct.length, "duplicates survived the streaming dedup")
    assert(out.length === base.count() + 1, s"expected base+1 rows, got ${out.length}")
    assert(out.contains(("conv-99999", 0)), "the genuinely new row must pass")
  }

  test("stateless curation chain composes onto a stream and equals the batch result") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.text.TextAnalysis
    val dir = Files.createTempDirectory("graft-scur").toString
    val docs = (0L until 200L).map { i =>
      (i, if (i % 3 == 0) s"the quick fox $i is on the mat mail@example.com"
          else s"xyzzy plugh $i quux")
    }
    import spark.implicits._
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)

    // langGuess -> stratified mix sample -> PII scrub: all stateless, so the
    // SAME code runs on a stream unmodified (the point of the declarative
    // operator surface)
    def curate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      TextAnalysis.stratifiedSample(
          df.withColumn("lang", TextAnalysis.langGuess(col("text"))),
          "lang", Map("en" -> 0.5), defaultRate = 1.0)
        .select(col("doc_id"), col("lang"), TextAnalysis.scrub(col("text")).as("clean"))

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = curate(stream).writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("scur_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("scur_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = curate(spark.read.parquet(dir)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.size < 200, "sampling must bite")
    assert(streamed.forall(!_._3.contains("@")), "scrub must run on the stream")
  }

  test("streaming as-of enrichment equals the batch broadcast as-of, incl. unmatched rows") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-sasof").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.repartition(4).write.mode("overwrite").parquet(dir) // several files → several micro-batches
    def us(df: org.apache.spark.sql.DataFrame) = df.select(col("event_id"),
      col("event_type"), unix_micros(col("ts").cast("timestamp")).as("e_us"))
    val snaps = us(events)
      .withColumn("bkt", expr("e_us div 21600000000L"))
      .filter(col("bkt") % 4 === length(col("event_type")) % 4)
      .select(col("event_type"), col("bkt").as("version"),
        (col("bkt") * 21600000000L).as("snap_us"))
      .distinct()
    val stream = us(spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir))
    val q = graft.temporal.TemporalJoin.asofJoinBroadcast(stream, snaps,
        Seq("event_type"), "e_us", "snap_us")
      .writeStream.outputMode("append")
      .format("memory").queryName("sasof_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) = df.select("event_id", "version")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted
    val streamed = canon(spark.table("sasof_out"))
    val batch = canon(graft.temporal.TemporalJoin.asofJoinBroadcast(
      us(events), snaps, Seq("event_type"), "e_us", "snap_us"))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    assert(streamed.exists(_._2 == -1L), "pre-first-snapshot events must survive as nulls")
  }

  test("typed sources: dummy/parquet round-trip and union merge") {
    val dir = Files.createTempDirectory("graft-src").toString
    val d = TurnSources.dummy(spark, 10, 4)
    d.toDF().write.mode("overwrite").parquet(dir)
    val p = TurnSources.parquet(spark, dir)
    assert(p.count() === d.count())
    // each text reader reads back what was written in its declared
    // timestampFormat, row for row
    val want = d.collect().toSet
    d.write.option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(s"$dir-csv")
    assert(TurnSources.csv(spark, s"$dir-csv").collect().toSet === want)
    d.write.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").json(s"$dir-jsonl")
    assert(TurnSources.jsonl(spark, s"$dir-jsonl").collect().toSet === want)
    val merged = TurnSources.union(d, p)
    assert(merged.count() === d.count() * 2)
    assert(merged.columns.toSeq === Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
  }
}
