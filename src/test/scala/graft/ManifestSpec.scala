package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.pipeline.Pipeline
import graft.manifest.{Manifest, Records}
import graft.manifest.Records.SnapshotRecord

/** Idempotent-resume semantics: a killed run, rerun, must produce sink
  * contents identical to a clean run with zero duplicates — the inversion of
  * the reference's emit-then-mark race (reference source/nomad/worker.go:149-154,
  * SURVEY.md §4.3). */
class ManifestSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def readAllSinks(root: String): DataFrame = {
    val m = new Manifest(root)
    m.committedSinks().toSeq.sorted
      .map(s => m.sinkRows(spark, s))
      .reduce(_ unionByName _)
  }

  private def canon(df: DataFrame): Array[String] =
    df.select("conv_id", "turn_idx", "sink", "text")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getInt(1)}|${r.getString(2)}|${r.getString(3)}")
      .sorted

  test("clean run commits every sink and the manifest lists them") {
    val out = Files.createTempDirectory("graft-clean").toString
    // the shipped Main's session: AQE on, AQE partition coalescing off
    Session.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Pipeline.run(spark, sfDir, out, runId = "clean")
    }
    val m = new Manifest(out)
    assert(m.committedSinks().nonEmpty)
    assert(readAllSinks(out).count() > 0)
    // right-sized staging write: the fixture shuffles a few KB, so the
    // limiter's own read coalesces to one partition — one file per sink
    m.committedSinks().foreach { s =>
      val files = graft.util.Fs.listDir(java.nio.file.Paths.get(m.sinkPath(s)))
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(files <= 1, s"$s committed $files files")
    }
  }

  test("killed-after-2-sinks rerun equals a clean run, no duplicates") {
    val cleanOut = Files.createTempDirectory("graft-a").toString
    val resumeOut = Files.createTempDirectory("graft-b").toString

    Pipeline.run(spark, sfDir, cleanOut, runId = "r0")
    // simulated kill: only 2 sinks commit
    Pipeline.run(spark, sfDir, resumeOut, runId = "r1", failAfterSinks = 2)
    val partial = new Manifest(resumeOut).committedSinks()
    assert(partial.size === 2, s"expected partial commit, got $partial")
    // resume: full rerun against the same outRoot
    Pipeline.run(spark, sfDir, resumeOut, runId = "r2")
    assert(new Manifest(resumeOut).committedSinks() === new Manifest(cleanOut).committedSinks())

    val clean = canon(readAllSinks(cleanOut))
    val resumed = canon(readAllSinks(resumeOut))
    assert(resumed.length === clean.length, "row counts differ after resume")
    assert(resumed.sameElements(clean), "sink contents differ after resume")
    // no duplicates: (conv_id, turn_idx, sink) unique
    assert(resumed.distinct.length === resumed.length)
  }

  test("a promoted-but-uncommitted sink is replaced on resume") {
    import spark.implicits._
    val cleanOut = Files.createTempDirectory("graft-stale-a").toString
    val resumeOut = Files.createTempDirectory("graft-stale-b").toString
    Pipeline.run(spark, sfDir, cleanOut, runId = "s0")
    Pipeline.run(spark, sfDir, resumeOut, runId = "s1", failAfterSinks = 2)
    val m = new Manifest(resumeOut)
    val partial = m.committedSinks()
    // the next sink in promotion order, as a kill between its directory
    // rename and its entry leaves it: data under sinks/<s>, no <s>.json
    val stale = new Manifest(cleanOut).committedSinks().toSeq.sorted.filterNot(partial).head
    Seq(("junk", 0, "user", "junk", "t", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(m.sinkPath(stale))
    assert(!m.committedSinks().contains(stale))

    Pipeline.run(spark, sfDir, resumeOut, runId = "s2")
    def entries(root: String) = new Manifest(root).sinkEntries()
      .map(e => (e.sink, e.rowCount, e.bytes, e.convs))
    assert(entries(resumeOut) === entries(cleanOut))
    assert(canon(readAllSinks(resumeOut)).sameElements(canon(readAllSinks(cleanOut))))
    assert(m.sinkRows(spark, stale).filter($"conv_id" === "junk").isEmpty, "stale rows survived")
  }

  test("a batch-committed and a stream-committed sink hold the same six input columns") {
    val dir = Files.createTempDirectory("graft-rowshape")
    val batchOut = dir.resolve("batch").toString
    Pipeline.run(spark, sfDir, batchOut, runId = "shape")
    // the stream reads the same turns through its production source, so
    // both paths must agree on every type, `ts` included
    val turns = graft.model.Transcripts.fromEvents(spark, sfDir)
    val src = dir.resolve("turns").toString
    turns.write.parquet(src)
    val streamOut = dir.resolve("stream").toString
    graft.streaming.StreamingPipeline.foreachBatchSink(
      Pipeline.routed(graft.streaming.StreamingPipeline.readTurns(spark, src)),
      streamOut, dir.resolve("ckpt").toString).start().awaitTermination()

    val expected = turns.schema.map(f => f.name -> f.dataType)
    assert(expected.map(_._1) === graft.model.RoutedTurn.Columns.filterNot(_ == "sink"))
    def shape(path: String) = spark.read.parquet(path).schema.map(f => f.name -> f.dataType)
    val batchM = new Manifest(batchOut)
    assert(batchM.committedSinks().nonEmpty)
    batchM.committedSinks().foreach(s => assert(shape(batchM.sinkPath(s)) === expected, s))
    val streamM = new Manifest(streamOut)
    val batchDirs = streamM.streamCommittedSinks().toSeq.flatMap(s =>
      graft.util.Fs.listDir(java.nio.file.Paths.get(streamM.sinkPath(s))))
    assert(batchDirs.nonEmpty)
    batchDirs.foreach(d => assert(shape(d.toString) === expected, d))
  }

  test("a replayed micro-batch commits the first attempt's rows over a killed attempt's residue") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-replay").toString
    val m = new Manifest(out)
    val batch = Seq((1, "s1"), (2, "s1"), (3, "s2"))
      .map { case (i, sink) =>
        (s"conv-$i", i, "user", s"text $i", "t", new java.sql.Timestamp(i * 1000L), sink) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")
    def committed() = m.streamCommittedSinks().toSeq.sorted
      .flatMap(s => m.sinkRows(spark, s).collect().map(_.toString)).sorted
    def audit() = m.snapshotLog().map(r => (r.sink, r.streamBatch, r.rowCount, r.bytes, r.convs))
      .sortBy(_._1)
    m.commitStreamBatch(batch, 0L)
    val (rows, records) = (committed(), audit())
    assert(rows.length === 3)

    // a hard kill after s1's promotion and record, before s2's promotion,
    // with junk left in the batch's staging directory
    val root = java.nio.file.Paths.get(out)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(m.sinkPath("s2"), "batch=0"))
    m.snapshotLog().filter(_.sink == "s2").foreach(r =>
      Files.delete(root.resolve("_snapshots").resolve(Records.snapshotName(r.snapshotId))))
    val staging = root.resolve("_staging").resolve("stream-batch-0")
    Seq("sink=s1", "sink=ghost").foreach { d =>
      Seq(("junk", 0, "user", "junk", "t", new java.sql.Timestamp(0L)))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .write.parquet(staging.resolve(d).toString)
    }

    m.commitStreamBatch(batch, 0L)
    assert(committed() === rows)
    assert(audit() === records)
    assert(graft.util.Fs.listDir(root.resolve("_staging")).isEmpty)
  }

  /** Drains `src` through the production stream into `out`, one micro-batch
    * per file. */
  private def drainStream(src: String, out: String, ckpt: String): Unit =
    graft.streaming.StreamingPipeline.foreachBatchSink(
      Pipeline.routed(graft.streaming.StreamingPipeline.readTurns(spark, src, maxFilesPerTrigger = 1)),
      out, ckpt).start().awaitTermination()

  test("a batch run refuses an output root whose sinks the stream committed, promoting nothing") {
    val dir = Files.createTempDirectory("graft-onepath")
    val src = dir.resolve("turns").toString
    graft.model.Transcripts.fromEvents(spark, sfDir).coalesce(1).write.parquet(src)
    val out = dir.resolve("out").toString
    drainStream(src, out, dir.resolve("ckpt").toString)
    val m = new Manifest(out)
    val streamed = m.streamCommittedSinks()
    assert(streamed.contains("dead_letter"))
    val pin = m.currentSnapshotId()
    def pinned() = m.streamSinkAsOf(spark, "dead_letter", pin).collect().map(_.toString).sorted.toSeq
    val before = pinned()
    assert(before.nonEmpty)

    val e = intercept[IllegalStateException] { Pipeline.run(spark, sfDir, out, runId = "shared") }
    assert(streamed.exists(e.getMessage.contains) && e.getMessage.contains(out), e.getMessage)
    assert(pinned() === before)
    // no sink was promoted or committed, and no run was recorded
    assert(graft.util.Fs.listDir(java.nio.file.Paths.get(out, "sinks"))
      .map(_.getFileName.toString).toSet === streamed)
    assert(m.streamCommittedSinks() === streamed)
    assert(m.sinkEntries().isEmpty && m.runRecords().isEmpty)
    assert(graft.util.Fs.listDir(java.nio.file.Paths.get(out, "_staging")).isEmpty)
  }

  test("a stream commit refuses a sink a batch run committed, promoting nothing") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-onepath-rev").toString
    Pipeline.run(spark, sfDir, out, runId = "batch")
    val m = new Manifest(out)
    val entries = m.sinkEntries()
    val log = m.snapshotLog()
    def files() = m.committedSinks().toSeq.sorted.flatMap(s =>
      graft.util.Fs.listDir(java.nio.file.Paths.get(m.sinkPath(s))).map(_.toString).sorted)
    val before = files()
    // a micro-batch whose first sink is new to the root, its second the run's
    val batch = Seq((1, "a_new"), (2, "dead_letter"))
      .map { case (i, sink) =>
        (s"conv-$i", i, "user", s"text $i", "t", new java.sql.Timestamp(i * 1000L), sink) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")

    val e = intercept[IllegalStateException] { m.commitStreamBatch(batch, 0L) }
    assert(e.getMessage.contains("dead_letter") && e.getMessage.contains(out), e.getMessage)
    assert(m.streamCommittedSinks().isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(m.sinkPath("a_new"))))
    assert(files() === before)
    assert(m.sinkEntries() === entries && m.snapshotLog() === log)
  }

  test("drained micro-batches leave no per-batch file under _manifest") {
    val dir = Files.createTempDirectory("graft-nomarker")
    val src = dir.resolve("turns").toString
    graft.model.Transcripts.synthetic(spark, nConvs = 12, turnsPerConv = 4)
      .repartition(3).write.parquet(src)
    val out = dir.resolve("out").toString
    drainStream(src, out, dir.resolve("ckpt").toString)
    val m = new Manifest(out)
    assert(m.snapshotLog().flatMap(_.streamBatch).distinct.sorted === Seq(0L, 1L, 2L))
    val manifestDir = java.nio.file.Paths.get(out, "_manifest")
    val left =
      if (!Files.isDirectory(manifestDir)) Seq.empty
      else graft.util.Fs.listDir(manifestDir).map(_.getFileName.toString)
    assert(left.isEmpty, s"per-batch files under _manifest: $left")
  }

  test("manifest entries are queryable as a DataFrame (metrics-as-SQL)") {
    val out = Files.createTempDirectory("graft-entries").toString
    Pipeline.run(spark, sfDir, out, runId = "rq")
    val e = new Manifest(out).entries(spark)
    e.createOrReplaceTempView("manifest")
    val total = spark.sql(
      "SELECT sum(row_count) FROM manifest WHERE sink IS NOT NULL").collect()(0).getLong(0)
    assert(total > 0)
    // the observe()-based run metrics row is present too
    assert(e.columns.contains("routed_rows") || e.columns.contains("row_count"))
  }

  test("run() metrics come from the manifest — equal a recompute, no sink rescan") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-metrics").toString
    val result = Pipeline.run(spark, sfDir, out, runId = "rm")
    // the returned plan must NOT scan the written sink parquet (at 100 TB
    // that's a full second read of everything just written)
    val planStr = result.queryExecution.optimizedPlan.toString
    assert(!planStr.contains("/sinks/"), s"run() metrics rescan sink output:\n$planStr")
    // values equal the per-sink aggregate recomputed from the actual output
    val recomputed = graft.agg.SinkMetrics.perSink(readAllSinks(out))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromManifest = result
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromManifest === recomputed)
  }

  test("per-sink live counters in the run metrics match the committed entries") {
    val out = Files.createTempDirectory("graft-counters").toString
    Pipeline.run(spark, sfDir, out, runId = "rc")
    // (_-prefixed files are invisible to path-based readers — read content)
    import spark.implicits._
    val mdf = spark.read.json(Seq(
      Files.readString(java.nio.file.Paths.get(s"$out/_manifest/_metrics_rc.json"))).toDS())
    val ps = mdf.select("per_sink").collect()(0).getStruct(0)
    val perSink = ps.schema.fieldNames.map { s =>
      val c = ps.getStruct(ps.fieldIndex(s))
      s -> (c.getLong(c.fieldIndex("out_rows")), c.getLong(c.fieldIndex("out_bytes")),
        c.getLong(c.fieldIndex("in_rows")), c.getLong(c.fieldIndex("dropped_rows")))
    }.toMap
    // counters observed during the run == what was actually committed
    val entries = new Manifest(out).entries(spark)
      .filter(org.apache.spark.sql.functions.col("sink").isNotNull)
      .collect().map(r => r.getAs[String]("sink") ->
        (r.getAs[Long]("row_count"), r.getAs[Long]("bytes"))).toMap
    entries.foreach { case (sink, (rows, bytes)) =>
      assert(perSink(sink)._1 === rows, s"out_rows for $sink")
      assert(perSink(sink)._2 === bytes, s"out_bytes for $sink")
    }
    // conservation: everything routed in either survived somewhere or dropped
    assert(perSink.values.map(_._3).sum ===
      perSink.values.map(_._1).sum + perSink.values.map(_._4).sum)
  }

  test("per-stage counters conserve: scan = parse_ok + quarantined; dead-letter accounted") {
    val out = Files.createTempDirectory("graft-stages").toString
    Pipeline.run(spark, sfDir, out, runId = "rs")
    import spark.implicits._
    val mdf = spark.read.json(Seq(
      Files.readString(java.nio.file.Paths.get(s"$out/_manifest/_metrics_rs.json"))).toDS())
    val st = mdf.select("stages").collect()(0).getStruct(0)
    def stage(name: String) = st.getStruct(st.fieldIndex(name))
    def l(s: org.apache.spark.sql.Row, f: String) = s.getLong(s.fieldIndex(f))
    val scanRows = l(stage("scan"), "rows")
    val parseOk = l(stage("parse"), "rows_ok")
    val quarantined = l(stage("parse"), "rows_quarantined")
    val routeIn = l(stage("route"), "rows_in")
    val deadLetter = l(stage("route"), "rows_dead_letter")
    val fanout = l(stage("route"), "fanout_rows")
    assert(scanRows > 0)
    // conservation: every scanned row either parsed or was quarantined
    assert(parseOk + quarantined === scanRows, s"parse stage leaks rows")
    // the router sees every parsed row exactly once (fan-out happens after)
    assert(routeIn === scanRows, s"route_in $routeIn != scan $scanRows")
    // fan-out only duplicates, never drops: each input row emits >= 1 output
    assert(fanout >= routeIn)
    // quarantined rows are a subset of the dead-letter rows (unmatched adds more)
    assert(deadLetter >= quarantined)
    // cross-counter check: the stage counter equals the limiter-cell counter
    // for the dead_letter sink (both observed on the same run)
    val ps = mdf.select("per_sink").collect()(0).getStruct(0)
    val dl = ps.getStruct(ps.fieldIndex("dead_letter"))
    assert(dl.getLong(dl.fieldIndex("in_rows")) === deadLetter,
      "stage dead-letter count != per-sink in_rows for dead_letter")
  }

  test("metrics HTTP endpoint serves sink entries and live run counters (A4)") {
    val out = Files.createTempDirectory("graft-http").toString
    Pipeline.run(spark, sfDir, out, runId = "rh")
    val srv = new graft.manifest.MetricsHttp(out, 0)
    val port = srv.start()
    try {
      def get(path: String): String = {
        val client = java.net.http.HttpClient.newHttpClient()
        client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      }
      import spark.implicits._
      val sinks = spark.read.json(Seq(get("/sinks")).toDS())
      assert(sinks.count() === new Manifest(out).committedSinks().size.toLong)
      assert(sinks.columns.contains("row_count"))
      val runs = spark.read.json(Seq(get("/runs")).toDS())
      assert(runs.count() === 1L)
      assert(runs.columns.contains("per_sink"))
      assert(get("/healthz").contains("ok"))

      // Prometheus text exposition: parse every sample line and cross-check
      // against the manifest entries (reference web/server.go:32 parity)
      val prom = get("/metrics")
      val sample = """^(\w+)(?:\{(\w+)="([^"]+)"\})? (-?\d+)$""".r
      val samples = prom.linesIterator.filterNot(_.startsWith("#")).map {
        case sample(name, _, label, value) => (name, Option(label), value.toLong)
        case bad => fail(s"unparseable exposition line: '$bad'")
      }.toSeq
      assert(samples.nonEmpty)
      val entries2 = new Manifest(out).entries(spark)
        .filter(org.apache.spark.sql.functions.col("sink").isNotNull)
        .collect().map(r => r.getAs[String]("sink") -> r.getAs[Long]("row_count")).toMap
      val promRows = samples.collect {
        case ("graft_sink_rows_total", Some(sink), v) => sink -> v
      }.toMap
      assert(promRows === entries2, s"prometheus sink rows mismatch: $promRows vs $entries2")
      assert(samples.exists(_._1 == "graft_runs_total"))
      assert(samples.exists(_._1 == "graft_stage_rows_total"))
      assert(samples.exists(_._1 == "graft_sink_in_rows_total"))
    } finally srv.stop()
  }

  test("HTML status page: sink table, live roster, endpoint links, 404 elsewhere") {
    val out = Files.createTempDirectory("graft-html").toString
    Pipeline.run(spark, sfDir, out, runId = "rhtml")
    val srv = new graft.manifest.MetricsHttp(out, 0, spark = Some(spark))
    val port = srv.start()
    try {
      def get(path: String): java.net.http.HttpResponse[String] = {
        val client = java.net.http.HttpClient.newHttpClient()
        client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      val page = get("/")
      assert(page.statusCode() === 200)
      assert(page.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      val html = page.body()
      new Manifest(out).committedSinks().foreach { s =>
        assert(html.contains(s"<td>$s</td>"), s"sink $s missing from status page")
      }
      Seq("/sinks", "/runs", "/snapshots", "/metrics", "/cluster").foreach { l =>
        assert(html.contains(s"""href="$l""""), s"missing link $l")
      }
      assert(html.contains("Executors") && html.contains("<td>"))
      assert(get("/no-such-page").statusCode() === 404)
    } finally srv.stop()
  }

  test("cluster view endpoint: executor roster, ?node= filter, sidecar degradation") {
    val out = Files.createTempDirectory("graft-cluster").toString
    val srv = new graft.manifest.MetricsHttp(out, 0, spark = Some(spark))
    val port = srv.start()
    try {
      def get(path: String): String = {
        val client = java.net.http.HttpClient.newHttpClient()
        client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      }
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val cluster = om.readTree(get("/cluster"))
      assert(cluster.get("mode").asText() === "live")
      val execs = cluster.get("executors")
      assert(execs.size() >= 1, "local mode must report the driver executor")
      assert(cluster.get("default_parallelism").asInt() === 4)
      val first = execs.get(0)
      assert(first.has("node") && first.has("running_tasks")
        && first.has("total_onheap_storage"))
      // ?node= narrows to one executor (the reference's per-node proxy shape)
      val id = first.get("node").asText()
      val one = om.readTree(get(s"/cluster?node=${java.net.URLEncoder.encode(id, "UTF-8")}"))
      assert(one.get("executors").size() === 1)
      assert(om.readTree(get("/cluster?node=nope:0")).get("executors").size() === 0)
      // a malformed query must get an ANSWER (4xx), never a dropped exchange
      // (connection reset). The JDK server pre-validates the request URI and
      // answers its own 400 for an invalid percent escape; the handler's
      // try/catch is the second line of defense for anything that gets
      // through (and turns body() failures into 500s). Raw socket: the JDK
      // http client would refuse to send the malformed URI at all.
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.getOutputStream.write(
          s"GET /cluster?node=%zz HTTP/1.1\r\nHost: 127.0.0.1:$port\r\nConnection: close\r\n\r\n"
            .getBytes("US-ASCII"))
        sock.getOutputStream.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(resp.startsWith("HTTP/1.1 400"), s"expected 400, got: ${resp.take(80)}")
      } finally sock.close()
      // sidecar mode (no session attached) degrades, not crashes
      val side = new graft.manifest.MetricsHttp(out, 0)
      val sp = side.start()
      try {
        val body = om.readTree(get2(sp, "/cluster"))
        assert(body.get("mode").asText() === "sidecar")
        assert(body.get("executors").size() === 0)
      } finally side.stop()
    } finally srv.stop()
  }

  private def get2(port: Int, path: String): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }

  test("stream time travel: streamSinkAsOf pins a snapshot while batches keep landing") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-tt").toString
    val m = new Manifest(out)
    def batch(ids: Seq[Int]) = ids
      .map(i => (s"conv-0000$i", i, "user", s"text $i", "t", new java.sql.Timestamp(i * 1000L), "s1"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")
    m.commitStreamBatch(batch(Seq(1, 2)), 0L)
    val snapAfterB0 = m.currentSnapshotId()
    m.commitStreamBatch(batch(Seq(3)), 1L)

    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
      if (df.columns.isEmpty) Set.empty
      else df.select("turn_idx").collect().map(_.getInt(0)).toSet
    // pinned snapshot: repeatable read sees only batch 0 even after batch 1 landed
    assert(ids(m.streamSinkAsOf(spark, "s1", snapAfterB0)) === Set(1, 2))
    // current snapshot sees everything; snapshot 0 predates every commit
    assert(ids(m.streamSinkAsOf(spark, "s1", m.currentSnapshotId())) === Set(1, 2, 3))
    assert(ids(m.streamSinkAsOf(spark, "s1", 0L)) === Set.empty)
    // unknown sink: empty, not an error
    assert(ids(m.streamSinkAsOf(spark, "nope", Long.MaxValue)) === Set.empty)
  }

  test("retention sweep: expireSnapshots compacts the log; pinned reads below the " +
      "horizon fail fast; servable pins stay exact; missing data dirs are refused") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-ret").toString
    val m = new Manifest(out)
    def batch(ids: Seq[Int]) = ids
      .map(i => (s"conv-0000$i", i, "user", s"text $i", "t", new java.sql.Timestamp(i * 1000L), "s1"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")
    // five stream batches → audit records at snapshot ids 1..5, batches 0..4
    (0 until 5).foreach(i => m.commitStreamBatch(batch(Seq(i + 1)), i.toLong))
    assert(m.currentSnapshotId() === 5L)

    // keepLast=2 → horizon 4: records 1..3 (batches 0..2) expire and compact
    val expired = m.expireSnapshots(keepLast = 2)
    assert(expired === Seq(1L, 2L, 3L))
    assert(m.snapshots(spark).count() === 2L, "/snapshots must reflect the sweep")
    assert(m.retention() ===
      Manifest.Retention(4L, Map("s1" -> Manifest.Retention.Base(2L, 3L))))
    // re-sweep is an idempotent no-op
    assert(m.expireSnapshots(keepLast = 2) === Seq.empty)

    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
      if (df.columns.isEmpty) Set.empty
      else df.select("turn_idx").collect().map(_.getInt(0)).toSet
    // servable pins reconstruct the expired prefix from the compacted base
    assert(ids(m.streamSinkAsOf(spark, "s1", 5L)) === Set(1, 2, 3, 4, 5))
    assert(ids(m.streamSinkAsOf(spark, "s1", 4L)) === Set(1, 2, 3, 4))
    // a pin below the horizon fails FAST — never a partial answer
    val e = intercept[IllegalStateException] { m.streamSinkAsOf(spark, "s1", 3L) }
    assert(e.getMessage.contains("retention horizon"))
    // a committed batch dir going missing is refused, not silently skipped
    graft.util.Fs.deleteRecursively(
      java.nio.file.Paths.get(m.sinkPath("s1"), "batch=1"))
    val e2 = intercept[IllegalStateException] { m.streamSinkAsOf(spark, "s1", 5L) }
    assert(e2.getMessage.contains("partial data"))
  }

  test("crash-recovery re-sweep never double-counts compacted batches into the base") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-ret3").toString
    val m = new Manifest(out)
    def batch(ids: Seq[Int]) = ids
      .map(i => (s"conv-0000$i", i, "user", s"text $i", "t", new java.sql.Timestamp(i * 1000L), "s1"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")
    (0 until 5).foreach(i => m.commitStreamBatch(batch(Seq(i + 1)), i.toLong))
    // simulate "crash AFTER the durable _retention.json write, BEFORE the
    // record deletes": snapshot record files survive the sweep
    val snapDir = java.nio.file.Paths.get(out, "_snapshots")
    val saved = graft.util.Fs.listDir(snapDir)
      .filter(_.getFileName.toString.startsWith("snap-"))
      .map(p => p.getFileName.toString -> Files.readString(p))
    assert(m.expireSnapshots(keepLast = 2) === Seq(1L, 2L, 3L))
    val base0 = m.retention().bases("s1")
    assert(base0 === Manifest.Retention.Base(2L, 3L))
    saved.foreach { case (name, body) =>
      val p = snapDir.resolve(name)
      if (!Files.exists(p)) Files.writeString(p, body)
    }
    // the recovery sweep re-expires the restored records — the base must be
    // UNCHANGED (batches <= maxBatch are already compacted), or every pinned
    // read for the sink fails its completeness check forever
    assert(m.expireSnapshots(keepLast = 2) === Seq(1L, 2L, 3L))
    assert(m.retention().bases("s1") === base0,
      "re-expiring already-compacted records must not inflate nBatches")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
      if (df.columns.isEmpty) Set.empty
      else df.select("turn_idx").collect().map(_.getInt(0)).toSet
    assert(ids(m.streamSinkAsOf(spark, "s1", 5L)) === Set(1, 2, 3, 4, 5))
  }

  test("a failed stream commit leaves no staged batch copy behind") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-leak").toString
    val m = new Manifest(out)
    val bad = Seq(("conv-1", 1, "user", "t", "t", new java.sql.Timestamp(1000L), "bad sink"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")
    (1 to 3).foreach { i => // every foreachBatch retry stages the batch again
      intercept[IllegalArgumentException] { m.commitStreamBatch(bad, i.toLong) }
    }
    val tmp = java.nio.file.Paths.get(out, "_staging")
    val leaked =
      if (!Files.isDirectory(tmp)) Seq.empty
      else graft.util.Fs.listDir(tmp)
        .filter(_.getFileName.toString.startsWith("stream-batch-"))
    assert(leaked.isEmpty, s"staged copies must not outlive a failed commit: $leaked")
  }

  test("retention sweep never expires a sink's most-recent record (live-data provenance)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-ret2").toString
    val m = new Manifest(out)
    val staged = java.nio.file.Paths.get(out, "_staging", "sink=alpha")
    Seq(("conv-1", 1, "user", "t", "t", new java.sql.Timestamp(1000L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(staged.toString)
    m.promoteAndCommit("alpha", staged, "r1", 1L, 1L, 1L) // snapshot id 1 — alpha's only commit
    (0 until 5).foreach(i => m.appendSnapshot(sid =>
      SnapshotRecord(sid, sid - 1, s"x$i", "beta", "commit", 0L, 0L, 0L,
        "2026-01-01T00:00:00Z")))
    assert(m.currentSnapshotId() === 6L)
    // horizon 5: ids 1..4 qualify, but id 1 is alpha's latest → kept
    val expired = m.expireSnapshots(keepLast = 2)
    assert(expired === Seq(2L, 3L, 4L))
    val left = m.snapshots(spark).collect().map(_.getAs[Long]("snapshot_id")).toSet
    assert(left === Set(1L, 5L, 6L))
    assert(m.retention().horizon === 5L)
    assert(m.retention().bases.isEmpty, "batch commits never produce stream bases")
  }

  test("snapshot commit log: concurrent commits linearize, records never rewritten") {
    val out = Files.createTempDirectory("graft-snap").toString
    val m = new Manifest(out)
    // 8 concurrent committers race for snapshot ids — every claim must be
    // unique and the final log contiguous 1..8 (Iceberg-style optimistic
    // concurrency: losers retry against the new head, nothing is rewritten)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val claimed = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = m.appendSnapshot(sid =>
            SnapshotRecord(sid, sid - 1, s"t$i", s"s$i", "commit", i.toLong, 0L, 0L,
              "2026-01-01T00:00:00Z"))
        })
      }.map(_.get())
      assert(claimed.toSet === (1L to 8L).toSet, s"ids not contiguous: $claimed")
    } finally pool.shutdown()
    assert(m.currentSnapshotId() === 8L)
    // each record's embedded snapshot_id matches its file name and parent
    // chain is linear — the linearized history
    val snaps = m.snapshots(spark).collect()
      .map(r => r.getAs[Long]("snapshot_id") -> r.getAs[Long]("parent_id")).toMap
    assert(snaps.keySet === (1L to 8L).toSet)
    (1L to 8L).foreach(id => assert(snaps(id) === id - 1))
    // a pipeline run appends to the log too, and sink pointers reference it
    Pipeline.run(spark, sfDir, out, runId = "rsnap")
    val entries = new Manifest(out).entries(spark)
      .filter(org.apache.spark.sql.functions.col("sink").isNotNull).collect()
    assert(entries.forall(_.getAs[Long]("snapshot_id") > 8L))
    assert(new Manifest(out).currentSnapshotId() === 8L + entries.length)
  }

  test("anti-join resume drops exactly the committed keys") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-anti").toString
    Pipeline.run(spark, sfDir, out, runId = "r3", failAfterSinks = 2)
    val m = new Manifest(out)
    val turns = graft.model.Transcripts.fromEvents(spark, sfDir)
    // the rows Pipeline.run commits: the shipped limiter's survivors
    val cfg = Pipeline.Config()
    val routedAll = graft.limit.SinglePassLimit.limitReusingShuffle(
      Pipeline.observedFanOut(turns, cfg)._1, cfg.limitRules)
    val remaining = m.antiJoinResume(spark,
      routedAll.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink"))
    val committedCount = m.committedSinks().toSeq
      .map(s => spark.read.parquet(m.sinkPath(s)).count()).sum
    assert(remaining.count() === routedAll.count() - committedCount)
    assert(remaining.filter(col("sink").isin(m.committedSinks().toSeq: _*)).count() === 0)
  }

  test("a run id or sink that is not a name fails before any work, leaving nothing behind") {
    val parent = Files.createTempDirectory("graft-names")
    Seq("a\"b", "a/b").foreach { runId =>
      val out = parent.resolve("out").toString
      intercept[IllegalArgumentException] { Pipeline.run(spark, sfDir, out, runId = runId) }
      assert(!Files.exists(parent.resolve("out")), s"run id $runId left files behind")
    }
    intercept[IllegalArgumentException] {
      val badFallback = Pipeline.Config(limitRules = Seq(
        graft.limit.LimitRule("sink_search", 1L, 1, "fallback", Some("a:b"))))
      Pipeline.run(spark, sfDir, parent.resolve("out").toString, runId = "ok", cfg = badFallback)
    }
    assert(!Files.exists(parent.resolve("out")))
  }

  test("entries on a root without sink entries is an empty frame with SinkEntry's columns") {
    val columns = Seq("run_id" -> "StringType", "sink" -> "StringType",
      "row_count" -> "LongType", "bytes" -> "LongType", "convs" -> "LongType",
      "snapshot_id" -> "LongType", "committed_ts" -> "StringType")
    // a fresh root, and what a run over empty input leaves: a run record only
    val fresh = Files.createTempDirectory("graft-fresh").toString
    val runOnly = Files.createTempDirectory("graft-run-only").toString
    Records.writeAtomic(java.nio.file.Paths.get(runOnly, "_manifest"), "_metrics_empty.json",
      Records.RunRecord("empty", 0L, 0L, 0, Records.Stages(Records.ScanCounts(0L),
        Records.ParseCounts(0L, 0L), Records.RouteCounts(0L, 0L, 0L)), Map.empty))
    Seq(fresh, runOnly).foreach { root =>
      val e = new Manifest(root).entries(spark)
      assert(e.dtypes.toSeq === columns, root)
      assert(e.isEmpty, root)
    }
  }

  test("truncated records are skipped by every reader: HTTP routes, sweep, time travel") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-trunc").toString
    val m = new Manifest(out)
    def batch(ids: Seq[Int]) = ids
      .map(i => (s"conv-0000$i", i, "user", s"text $i", "t", new java.sql.Timestamp(i * 1000L), "s1"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "sink")
    m.commitStreamBatch(batch(Seq(1)), 0L) // snapshot 1
    m.commitStreamBatch(batch(Seq(2)), 1L) // snapshot 2
    val manifestDir = java.nio.file.Paths.get(out, "_manifest")
    val snapDir = java.nio.file.Paths.get(out, "_snapshots")
    Records.writeAtomic(manifestDir, "_metrics_good.json", Records.RunRecord("good", 3L, 30L, 1,
      Records.Stages(Records.ScanCounts(3L), Records.ParseCounts(3L, 0L),
        Records.RouteCounts(3L, 0L, 3L)),
      Map("s1" -> Records.SinkCounters(inRows = 3L, outRows = 3L))))
    Files.writeString(manifestDir.resolve("_metrics_x.json"), """{"run_id":"x","routed_ro""")
    Records.writeAtomic(manifestDir, "s1.json",
      Records.SinkEntry("good", "s1", 3L, 30L, 1L, 2L, "2026-01-01T00:00:00Z"))
    Files.writeString(manifestDir.resolve("s2.json"), """{"run_id":"x","sink":"s2","row_co""")
    Files.writeString(snapDir.resolve("snap-00000000.json"),
      """{"snapshot_id":0,"parent_id":-1,"run_id":"stream-batch-9","sink":"s1","op":"stream_co""")

    val srv = new graft.manifest.MetricsHttp(out, 0)
    val port = srv.start()
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val runs = om.readTree(get2(port, "/runs"))
      assert(runs.size() === 1 && runs.get(0).get("run_id").asText() === "good")
      val sinks = om.readTree(get2(port, "/sinks"))
      assert(sinks.size() === 1 && sinks.get(0).get("sink").asText() === "s1")
      val snaps = om.readTree(get2(port, "/snapshots"))
      assert(snaps.size() === 2, snaps.toString)
      val prom = get2(port, "/metrics")
      assert(prom.contains("graft_runs_total 1\n"), prom)
      assert(prom.contains("graft_sink_in_rows_total{sink=\"s1\"} 3\n"), prom)
    } finally srv.stop()

    // the Spark frames: the good records only, no `_corrupt_record` column
    val entries = m.entries(spark)
    assert(!entries.columns.contains("_corrupt_record"))
    assert(entries.collect().map(_.getAs[String]("sink")).toSeq === Seq("s1"))
    val snapFrame = m.snapshots(spark)
    assert(!snapFrame.columns.contains("_corrupt_record"))
    assert(snapFrame.collect().map(_.getAs[Long]("snapshot_id")).toSeq.sorted === Seq(1L, 2L))

    // the pin sees both committed batches; the truncated record names batch 9
    def ids(df: DataFrame): Set[Int] =
      if (df.columns.isEmpty) Set.empty
      else df.select("turn_idx").collect().map(_.getInt(0)).toSet
    assert(ids(m.streamSinkAsOf(spark, "s1", 2L)) === Set(1, 2))
    assert(m.expireSnapshots(keepLast = 1) === Seq(1L))
    assert(m.retention() === Manifest.Retention(2L, Map("s1" -> Manifest.Retention.Base(0L, 1L))))
    assert(ids(m.streamSinkAsOf(spark, "s1", 2L)) === Set(1, 2))
  }
}
