package graft.manifest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.model.RoutedTurn

import Records.{RunRecord, SinkEntry, SnapshotRecord}

/** Lineage/metrics manifest with write-then-commit semantics + idempotent resume.
  *
  * Reference analog: the Consul-KV dedup set keyed by event hash
  * (reference source/nomad/worker.go:114-127). The reference marks AFTER
  * emitting (emit-then-mark race, worker.go:149-154 ⇒ at-least-once); we
  * invert the order — sink data lands fully, then the manifest entry commits
  * atomically — so a rerun of a killed job produces zero duplicate routed
  * rows (north_rule: "resumes idempotently without duplicate routed rows").
  *
  * No Iceberg jar in the sandbox, so "Iceberg manifest" is realized as:
  *   <root>/_staging/<unit>/sink=<s>/  one commit unit's staged rows ([[stage]])
  *   <root>/sinks/<sink>/              committed sink parquet (atomic dir rename),
  *                                     `sinks/<sink>/batch=<id>/` for a stream
  *                                     (one commit path per sink)
  *   <root>/_manifest/<sink>.json      a batch sink's current pointer (atomic move)
  *   <root>/_snapshots/snap-NNN.json   append-only numbered commit log
  *                                     ([[appendSnapshot]] — optimistic
  *                                     concurrency, records never rewritten)
  * Every record is a [[Records]] case class written by [[Records.writeAtomic]]
  * (the snapshot claim keeps its own hard-link protocol) and read back by the
  * tolerant [[Records.readAll]]: this class and [[Records]] are the only code
  * that knows the layout, and every reader (the frames here, [[MetricsHttp]],
  * [[graft.pipeline.Pipeline.run]]'s result) reads the typed records.
  * On a real cluster the same protocol maps onto Iceberg snapshot commits —
  * the unit of commit is a sink partition, the manifest is the catalog.
  *
  * Resume re-stages every sink and promotes only the uncommitted ones; the
  * per-row [[antiJoinResume]] covers finer-grained reconciliation.
  */
final class Manifest(root: String) {
  private val manifestDir = Paths.get(root, "_manifest")
  private val snapshotDir = Paths.get(root, "_snapshots")
  private val stagingDir = Paths.get(root, "_staging")

  def committedSinks(): Set[String] = {
    if (!Files.isDirectory(manifestDir)) return Set.empty
    graft.util.Fs.listDir(manifestDir)
      .map(_.getFileName.toString)
      .collect { case n if Records.isSinkEntry(n) => n.stripSuffix(".json") }
      .toSet
  }

  def sinkPath(sink: String): String = s"$root/sinks/$sink"

  /** The committed sinks' current-pointer entries, in file-name order. */
  def sinkEntries(): Seq[SinkEntry] = Records.readAll[SinkEntry](manifestDir, Records.isSinkEntry)

  /** Every recorded run's counters, in file-name order. */
  def runRecords(): Seq[RunRecord] = Records.readAll[RunRecord](manifestDir, Records.isRunRecord)

  /** Replaces the run's record atomically: the metrics sidecar may read it
    * at any moment. */
  def writeRun(record: RunRecord): Unit =
    Records.writeAtomic(manifestDir, Records.runRecordName(record.runId), record)

  /** The one staging write of a commit unit — `run` for [[graft.pipeline.Pipeline.run]],
    * `stream-batch-<id>` for [[commitStreamBatch]]: `rows` projected to
    * [[RoutedTurn.Columns]], written once to `_staging/<unit>` partitioned
    * by sink. The directory is fixed per unit, so a resume or a replay
    * overwrites what a hard kill left there. The sink names become path
    * segments, so they are checked before `promote` runs, and a sink the other
    * commit path committed is refused (a batch promotion replaces `sinks/<s>`
    * whole). The staged copy is deleted when `promote` returns or throws. */
  def stage[T](rows: DataFrame, unit: String)(promote: Manifest.Staged => T): T = {
    val dir = stagingDir.resolve(unit)
    val projected = rows.select(RoutedTurn.Columns.map(col): _*)
    projected.write.mode("overwrite").partitionBy("sink").parquet(dir.toString)
    try {
      val sinks = graft.util.Fs.listDir(dir).map(_.getFileName.toString)
        .collect { case n if n.startsWith("sink=") => n.stripPrefix("sink=") }.sorted
      // a null sink is staged as the default partition, any other odd one escaped
      sinks.foreach(n => Records.requireName("sink",
        if (n == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else ExternalCatalogUtils.unescapePathName(n)))
      val stream = unit.startsWith(Records.StreamRunPrefix)
      val other = if (stream) committedSinks() else streamCommittedSinks()
      sinks.find(other).foreach(s => throw new IllegalStateException(s"sink $s under $root " +
        s"is committed by ${if (stream) "a batch run" else "a stream"}; one commit path per sink"))
      // read back through the written schema: an inferred sink column would
      // type an all-numeric sink as int
      promote(new Manifest.Staged(dir, sinks,
        rows.sparkSession.read.schema(projected.schema).parquet(dir.toString)))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  /** Commit a sink whose data was already staged ([[stage]]): its
    * `sink=<name>` directory is PROMOTED into place with one atomic
    * rename — no row is rewritten — then the manifest entry commits.
    * `rows`/`bytes`/`convs` are the caller's exact stats for the staged
    * rows (the limiter's post-chain cells and a conv_id-only scan). A stale
    * uncommitted target (crash between a previous promote and its commit)
    * is replaced. A process crash anywhere before the entry's rename leaves
    * the sink uncommitted, so resume promotes it again. */
  def promoteAndCommit(sink: String, stagedDir: java.nio.file.Path, runId: String,
      rows: Long, bytes: Long, convs: Long): Unit = {
    val target = Paths.get(sinkPath(sink))
    if (Files.exists(target)) graft.util.Fs.deleteRecursively(target)
    Files.createDirectories(target.getParent)
    Files.move(stagedDir, target, StandardCopyOption.ATOMIC_MOVE)
    val snap = appendSnapshot(SnapshotRecord(_, runId, sink, "commit", rows, bytes, convs))
    Records.writeAtomic(manifestDir, s"$sink.json",
      SinkEntry(runId, sink, rows, bytes, convs, snap, Records.now()))
  }

  /** Append-only, snapshot-numbered commit log — the Iceberg-shaped half of
    * the manifest. Each commit claims snapshot N+1 by ATOMICALLY hard-linking
    * a fully-written temp record to `snap-<N+1>.json`; link creation fails if
    * the name exists (EEXIST), so two concurrent committers can never claim
    * the same snapshot — the loser re-reads the head and retries against
    * N+2, exactly Iceberg's optimistic-concurrency commit protocol (on a real
    * cluster the same loop runs against the catalog's compare-and-swap).
    * Records are never rewritten; `<sink>.json` stays the current-pointer
    * VIEW, derivable as "latest snapshot per sink".
    *
    * @param record builds the record body for a CANDIDATE snapshot id (the
    *        id lands inside the record, so it is re-rendered per attempt)
    * @return the claimed snapshot id */
  def appendSnapshot(record: Long => SnapshotRecord): Long = {
    Files.createDirectories(snapshotDir)
    var attempt = currentSnapshotId() + 1
    while (true) {
      val tmp = Records.writeTmp(snapshotDir, s"snap-$attempt", record(attempt))
      val target = snapshotDir.resolve(Records.snapshotName(attempt))
      try {
        try Files.createLink(target, tmp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException => throw e
          // no hard links on this filesystem. Two ways that surfaces: a
          // provider that doesn't implement createLink at all throws
          // UnsupportedOperationException; the default unix provider on an
          // overlay/FUSE/object-store mount surfaces EPERM/ENOTSUP as a
          // generic FileSystemException with the target absent (when the
          // target EXISTS it's a platform's EEXIST spelling — a lost race,
          // handled by the outer catch).
          case e: Exception if e.isInstanceOf[UnsupportedOperationException] ||
              (e.isInstanceOf[java.nio.file.FileSystemException] &&
                !Files.exists(target)) =>
            // CREATE_NEW is the same atomic fail-if-exists CLAIM, but the
            // content no longer appears atomically with it — so write fully
            // (looped: one channel write is not contracted to drain the
            // buffer) and delete OUR partial claim on any failure, instead
            // of leaving a truncated record permanently committed
            val ch = Files.newByteChannel(target,
              java.nio.file.StandardOpenOption.WRITE,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            try {
              val buf = java.nio.ByteBuffer.wrap(Files.readAllBytes(tmp))
              try { while (buf.hasRemaining) ch.write(buf) } finally ch.close()
            } catch {
              case w: Throwable =>
                try Files.deleteIfExists(target)
                catch { case _: Throwable => () }
                throw w
            }
        }
        Files.delete(tmp)
        return attempt
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.delete(tmp)
          attempt = math.max(attempt + 1, currentSnapshotId() + 1)
        // some platforms surface EEXIST as a generic FileSystemException —
        // re-check the target before deciding crash vs lost-race
        case e: java.nio.file.FileSystemException if Files.exists(target) =>
          Files.delete(tmp)
          attempt = math.max(attempt + 1, currentSnapshotId() + 1)
      }
    }
    -1L // unreachable
  }

  /** Highest committed snapshot id (0 when the log is empty). */
  def currentSnapshotId(): Long = {
    if (!Files.isDirectory(snapshotDir)) return 0L
    graft.util.Fs.listDir(snapshotDir)
      .map(_.getFileName.toString)
      .collect { case n if Records.isSnapshot(n) => Records.snapshotId(n) }
      .foldLeft(0L)(math.max)
  }

  /** The snapshot log as a DataFrame (time travel / audit: every commit ever
    * made, in order — `<sink>.json` current pointers are its projection).
    * An empty log reads as an empty DataFrame with the record's columns. */
  def snapshots(spark: SparkSession): DataFrame = Records.frame(spark, snapshotLog())

  // ---- retention (the expire-snapshots half of the lakehouse contract) ----

  import Manifest.Retention

  private val RetentionFile = "_retention.json"
  private def retentionPath = snapshotDir.resolve(RetentionFile)

  /** Current retention state (underscore-prefixed, so the snapshot log's
    * name filter never reads it as a record). */
  def retention(): Retention =
    if (!Files.exists(retentionPath)) Retention.empty
    else Records.mapper.readValue(retentionPath.toFile, classOf[Retention])

  /** Every parseable commit-log record; mid-write records are skipped. */
  def snapshotLog(): Seq[SnapshotRecord] =
    Records.readAll[SnapshotRecord](snapshotDir, Records.isSnapshot)

  /** Retention sweep over the append-only snapshot log — the batch-side
    * analog of [[graft.cdc.CdcStream.vacuum]] (Iceberg's expireSnapshots):
    * without it the log grows one record per commit forever. Keeps the
    * newest `keepLast` records; older records are deleted, EXCEPT each
    * sink's most-recent record (the provenance of live data is never lost —
    * the same rule that makes Iceberg never expire the current snapshot).
    *
    * Expired stream-commit records are first COMPACTED into the per-sink
    * base ([[Retention.Base]]): their batch directories are all older than
    * any retained record's (per-sink batch ids and snapshot ids are both
    * monotone), so "batch dirs with id <= maxBatch" reconstructs exactly the
    * expired prefix — [[streamSinkAsOf]] stays exact for every servable pin.
    * The horizon is monotone and durable, and is persisted ATOMICALLY BEFORE
    * any record file is deleted: a crash mid-sweep leaves extra records
    * (harmless — compaction is a union and re-expiry is idempotent), never
    * a horizon that promises more than the log can serve.
    *
    * Pinned-reader contract: a [[streamSinkAsOf]] read with
    * `snapshotId < horizon` FAILS FAST ([[IllegalStateException]]) — it can
    * no longer be reconstructed record-by-record and partial data is never
    * returned. Size `keepLast` above every reader's pin age, exactly the
    * [[graft.cdc.CdcStream.vacuum]] `keepLast` contract.
    *
    * @return the snapshot ids expired by THIS sweep */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast out of range: $keepLast")
    val records = snapshotLog()
    if (records.isEmpty) return Seq.empty
    val prev = retention()
    val head = records.map(_.snapshotId).max
    val horizon = math.max(prev.horizon, head - keepLast + 1)
    val latestPerSink = records.groupMapReduce(_.sink)(_.snapshotId)(math.max)
    val expire = records.filter(r =>
      r.snapshotId < horizon && r.snapshotId != latestPerSink(r.sink))
    // Fold in ascending batch order and skip batches at or below the sink's
    // recorded maxBatch: a crash AFTER the durable write but BEFORE the
    // record deletes leaves already-compacted records on disk, and the next
    // sweep re-expires them — counting those again would inflate nBatches
    // past the real dir count and permanently fail streamSinkAsOf's
    // completeness check. Per-sink batch ids are monotone, so
    // batch <= maxBatch ⇔ already compacted (this is what makes re-expiry
    // actually idempotent, as the scaladoc promises).
    val bases = expire.flatMap(r => r.streamBatch.map(r.sink -> _)).sortBy(_._2)
      .foldLeft(prev.bases) { case (acc, (sink, batch)) =>
        val b = acc.getOrElse(sink, Retention.Base(-1L, 0L))
        if (batch <= b.maxBatch) acc
        else acc.updated(sink, Retention.Base(batch, b.nBatches + 1))
      }
    // durable state FIRST (atomic replace), record deletes after
    Records.writeAtomic(snapshotDir, RetentionFile, Retention(horizon, bases))
    expire.foreach(r => Files.deleteIfExists(snapshotDir.resolve(Records.snapshotName(r.snapshotId))))
    expire.map(_.snapshotId).sorted
  }

  // ---- streaming micro-batch commit (exactly-once across replays) ----

  /** Commit one routed micro-batch into per-sink committed parquet — the
    * PRODUCTION streaming sink path (driven by foreachBatch,
    * [[graft.streaming.StreamingPipeline.foreachBatchSink]]).
    *
    * Layout: `sinks/<sink>/batch=<id>/…` — append semantics at sink
    * granularity, one partition dir per micro-batch, readable by the same
    * path-based reads as the batch layout ([[sinkRows]]), with the same
    * six columns ([[stage]]).
    *
    * Exactly-once: foreachBatch re-delivers a failed micro-batch with the
    * SAME batchId and (file source + checkpoint) the same rows, so the data
    * path only needs idempotent promotion — a replay skips any `batch=<id>`
    * dir that already exists. A crash mid-commit (some sinks promoted, some
    * not) resumes by promoting exactly the missing ones: no routed row is
    * ever written twice (the north-rule resume invariant, streaming
    * edition). The snapshot audit log gets exactly one record per
    * (sink, batch): each record is appended immediately after its sink's
    * promotion, and a replay that meets an already-promoted target appends
    * the record only if the previous attempt died inside that sink's
    * move→append window (the log already holds its record) — neither lost nor
    * duplicated audit rows. A replay of a fully-committed batch re-stages
    * once and promotes nothing; no per-batch file is kept beyond the log.
    * A sink with a batch-run entry is refused ([[stage]]). */
  def commitStreamBatch(batch: DataFrame, batchId: Long): Unit =
    stage(batch, s"${Records.StreamRunPrefix}$batchId") { staged =>
      // ALL sinks' stats in ONE job over the staged rows (per-sink aggregates
      // would pay one driver job round-trip per sink per micro-batch —
      // scheduling overhead dominates tiny frequent batches)
      val stats = staged.perSink(count(lit(1)),
        coalesce(sum(octet_length(col("text"))), lit(0L)), countDistinct(col("conv_id")))
      // replay recovery: sinks whose audit record already reached the log (a
      // crash can land between a sink's move and its append — only consulted
      // when a replay actually meets an already-promoted target)
      lazy val alreadyLogged =
        snapshotLog().filter(_.streamBatch.contains(batchId)).map(_.sink).toSet
      staged.sinks.foreach { sink =>
        val target = Paths.get(sinkPath(sink), s"batch=$batchId")
        val promoted =
          if (!Files.exists(target)) {
            Files.createDirectories(target.getParent)
            Files.move(staged.dir(sink), target, StandardCopyOption.ATOMIC_MOVE)
            true
          } else false // replay — already promoted by a previous attempt
        // audit record appended immediately after THIS sink's promotion (not
        // after all of them), and re-appended on replay if the previous attempt
        // died in the move→append window; foreachBatch replays a batch with
        // identical content, so the staged stats equal the promoted dir's
        if (promoted || !alreadyLogged(sink)) {
          val r = stats(sink)
          appendSnapshot(SnapshotRecord(_, s"${Records.StreamRunPrefix}$batchId", sink,
            Records.StreamCommit, r.getLong(0), r.getLong(1), r.getLong(2)))
        }
      }
    }

  /** Snapshot-isolation (time-travel) read over a STREAMING sink: only the
    * batch directories whose stream-commit audit record has
    * `snapshot_id <= snapshotId` — "the table as of snapshot N". Gives
    * repeatable reads while the stream keeps appending (pin
    * [[currentSnapshotId]] once, read the same data forever after) and
    * point-in-time debugging, the lakehouse table-version read. Batch
    * (overwrite-per-run) sinks have no version chain — their history is the
    * run id — so this is streaming-only by design. Returns an empty
    * zero-column frame when no batch qualifies.
    *
    * Retention interaction ([[expireSnapshots]]): a pin BELOW the horizon
    * fails fast — its record set no longer exists, and a partial answer is
    * never returned. A servable pin reconstructs the expired prefix from the
    * per-sink base (all `batch=` dirs with id <= base.maxBatch, verified
    * COMPLETE against the expired-record count) plus the retained records at
    * or below the pin; any missing batch directory fails fast the same way. */
  def streamSinkAsOf(spark: SparkSession, sink: String, snapshotId: Long): DataFrame = {
    val ret = retention()
    if (snapshotId < ret.horizon)
      throw new IllegalStateException(
        s"streamSinkAsOf($sink, $snapshotId): pin is below the retention horizon " +
          s"${ret.horizon} — its audit records were expired by expireSnapshots and " +
          "the read cannot be served without risking partial data; size keepLast " +
          "above every reader's pin age")
    if (!Files.isDirectory(snapshotDir)) return spark.emptyDataFrame
    val liveIds = snapshotLog()
      .filter(r => r.sink == sink && r.snapshotId <= snapshotId)
      .flatMap(_.streamBatch).distinct
    // expired prefix: every batch dir at or below the compacted base — the
    // dirs themselves are the record of what the expired records committed
    val base = ret.bases.get(sink)
    val baseIds = base.map { b =>
      val sinkDir = Paths.get(sinkPath(sink))
      val found =
        if (!Files.isDirectory(sinkDir)) Seq.empty[Long]
        else graft.util.Fs.listDir(sinkDir)
          .map(_.getFileName.toString)
          .collect { case n if n.startsWith("batch=") =>
            n.stripPrefix("batch=").toLong }
          .filter(_ <= b.maxBatch)
      if (found.size != b.nBatches)
        throw new IllegalStateException(
          s"streamSinkAsOf($sink, $snapshotId): the expired prefix should hold " +
            s"${b.nBatches} batch dirs up to batch=${b.maxBatch} but ${found.size} " +
            "exist — refusing to return partial data")
      found
    }.getOrElse(Seq.empty)
    val batchIds = (baseIds ++ liveIds).distinct.sorted
    val paths = batchIds.map { b =>
      val p = Paths.get(sinkPath(sink), s"batch=$b")
      if (!Files.isDirectory(p))
        throw new IllegalStateException(
          s"streamSinkAsOf($sink, $snapshotId): committed batch dir $p is missing " +
            "— refusing to return partial data")
      p.toString
    }
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
  }

  /** Sinks with at least one committed streaming batch. */
  def streamCommittedSinks(): Set[String] = {
    val base = Paths.get(root, "sinks")
    if (!Files.isDirectory(base)) return Set.empty
    graft.util.Fs.listDir(base)
      .filter(p => Files.isDirectory(p) &&
        graft.util.Fs.listDir(p).exists(_.getFileName.toString.startsWith("batch=")))
      .map(_.getFileName.toString).toSet
  }

  /** One committed sink's rows WITH the sink column restored — promoted
    * directories carry the sink only in the path (it was a partition column
    * in staging). */
  def sinkRows(spark: SparkSession, sink: String): DataFrame =
    spark.read.parquet(sinkPath(sink)).withColumn("sink", lit(sink))

  /** The committed sinks' entries as a queryable DataFrame (reference
    * analog: the JSON monitoring API, web/api/targets.go:43-121 — here it's
    * "plain SQL over the manifest table", SURVEY.md §2.7 A4). A root with no
    * entries reads as an empty frame with the same columns. */
  def entries(spark: SparkSession): DataFrame = Records.frame(spark, sinkEntries())

  /** Row-level resume: drop input rows whose (conv_id, turn_idx, sink) is
    * already present in committed sink output — a left ANTI join, the exact
    * Spark translation of the reference's dedup-KV lookup (F2, SURVEY.md §2.4). */
  def antiJoinResume(spark: SparkSession, routed: DataFrame): DataFrame = {
    val committed = committedSinks()
    if (committed.isEmpty) return routed
    val done = committed.toSeq
      .map(s => sinkRows(spark, s).select(col("conv_id"), col("turn_idx"), col("sink")))
      .reduce(_ unionByName _)
    routed.join(done, Seq("conv_id", "turn_idx", "sink"), "left_anti")
  }
}

object Manifest {
  /** One commit unit's staged rows ([[Manifest.stage]]): the checked sink
    * names, in order, each staged under [[dir]]. */
  final class Staged private[manifest] (root: Path, val sinks: Seq[String], rows: DataFrame) {
    def dir(sink: String): Path = root.resolve(s"sink=$sink")

    /** `aggs` over the staged rows per sink, in one job. */
    def perSink(aggs: Column*): Map[String, Row] =
      rows.groupBy(col("sink")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getString(0) -> Row.fromSeq(r.toSeq.tail)).toMap
  }

  /** Durable retention state ([[Manifest.expireSnapshots]]). `horizon` is
    * the lowest snapshot id still servable by pinned readers (0 = nothing
    * expired); `bases` compacts the expired stream-commit records per sink —
    * `maxBatch` the highest batch id whose audit record was expired,
    * `nBatches` how many were (so a reader can verify the corresponding data
    * dirs are COMPLETE, not merely present). */
  final case class Retention(horizon: Long, bases: Map[String, Retention.Base])
  object Retention {
    final case class Base(maxBatch: Long, nBatches: Long)
    val empty: Retention = Retention(0L, Map.empty)
  }
}
