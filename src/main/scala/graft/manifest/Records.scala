package graft.manifest

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper,
  PropertyNamingStrategies, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The manifest's record format, in one place: the typed records, the one
  * JSON mapper, the one atomic writer, the one tolerant reader and the one
  * conversion to a DataFrame. Field names are the camelCase spelling of the
  * snake_case keys on disk.
  *
  * Layout under an output root:
  *   _manifest/<sink>.json                [[SinkEntry]] (batch-run sinks)
  *   _manifest/_metrics_<run>.json        [[RunRecord]]
  *   _snapshots/snap-NNNNNNNN.json        [[SnapshotRecord]]
  *   _snapshots/_retention.json           [[Manifest.Retention]]
  */
object Records {

  /** The one name rule for sinks and run ids (reference config/config.go:13):
    * they become directory and file-name segments, so anything a path or a
    * Spark partition directory would escape is refused. */
  private val NamePattern = "^[a-zA-Z0-9-_]+$".r

  def requireName(kind: String, name: String): Unit =
    require(name != null && NamePattern.matches(name), s"invalid $kind name: $name")

  final case class SinkEntry(runId: String, sink: String, rowCount: Long, bytes: Long,
      convs: Long, snapshotId: Long, committedTs: String)

  val StreamCommit = "stream_commit"
  val StreamRunPrefix = "stream-batch-"

  /** One commit-log record; `op` is `commit` (batch) or `stream_commit`,
    * whose `runId` is `stream-batch-<batch id>`. */
  final case class SnapshotRecord(snapshotId: Long, parentId: Long, runId: String,
      sink: String, op: String, rowCount: Long, bytes: Long, convs: Long,
      committedTs: String) {
    def streamBatch: Option[Long] =
      if (op == StreamCommit) Some(runId.stripPrefix(StreamRunPrefix).toLong) else None
  }

  object SnapshotRecord {
    /** A record committed now, its parent the previous snapshot id. */
    def apply(snapshotId: Long, runId: String, sink: String, op: String,
        rowCount: Long, bytes: Long, convs: Long): SnapshotRecord =
      SnapshotRecord(snapshotId, snapshotId - 1, runId, sink, op, rowCount, bytes, convs, now())
  }

  /** One run's observed counters ([[graft.pipeline.Pipeline.run]]). */
  final case class RunRecord(runId: String, routedRows: Long, routedBytes: Long,
      sinks: Int, stages: Stages, perSink: Map[String, SinkCounters])

  final case class Stages(scan: ScanCounts, parse: ParseCounts, route: RouteCounts)
  final case class ScanCounts(rows: Long)
  final case class ParseCounts(rowsOk: Long, rowsQuarantined: Long)
  final case class RouteCounts(rowsIn: Long, rowsDeadLetter: Long, fanoutRows: Long)

  final case class SinkCounters(inRows: Long = 0, inBytes: Long = 0,
      outRows: Long = 0, outBytes: Long = 0,
      droppedRows: Long = 0, droppedBytes: Long = 0) {
    def +(o: SinkCounters): SinkCounters = SinkCounters(inRows + o.inRows,
      inBytes + o.inBytes, outRows + o.outRows, outBytes + o.outBytes,
      droppedRows + o.droppedRows, droppedBytes + o.droppedBytes)
  }

  def now(): String = java.time.Instant.now().toString

  private val snakeCase = new PropertyNamingStrategies.SnakeCaseStrategy

  /** The one JSON mapper: case classes as snake_case objects, map keys in
    * sorted order, unknown fields ignored on read. Thread-safe once built. */
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(snakeCase)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** Writes `record` fully to a fresh `_tmp/<name>-<uuid>` beside `dir`
    * (same filesystem, so it can be renamed into `dir`) and returns it. */
  private[manifest] def writeTmp(dir: Path, name: String, record: AnyRef): Path = {
    val tmp = dir.resolveSibling("_tmp").resolve(s"$name-${java.util.UUID.randomUUID()}")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, mapper.writeValueAsBytes(record))
    tmp
  }

  /** Replaces `dir/name` with `record` in one atomic rename: a reader, or a
    * run resumed after a process crash, sees the old record or the new one,
    * never a partial file. Nothing is fsync'd, so this is visibility, not
    * durability across power loss. Concurrent writers of one name each
    * rename their own tmp file; the last rename wins. */
  def writeAtomic(dir: Path, name: String, record: AnyRef): Unit = {
    Files.createDirectories(dir)
    Files.move(writeTmp(dir, name, record), dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every record in `dir` whose file name passes `keep`, in file-name
    * order. A file that does not parse (mid-write on a filesystem without
    * hard links, or truncated by a crash) is skipped, not fatal. */
  def readAll[T: ClassTag](dir: Path, keep: String => Boolean): Seq[T] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val cls = implicitly[ClassTag[T]].runtimeClass.asInstanceOf[Class[T]]
    graft.util.Fs.listDir(dir)
      .filter(p => keep(p.getFileName.toString))
      .sortBy(_.getFileName.toString)
      .flatMap { p =>
        try Some(mapper.readValue(p.toFile, cls))
        catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  /** `records` as a DataFrame whose columns are the keys on disk, in field
    * order, with the field types; built on the driver (no Spark job, no
    * schema inference), and empty records give the same columns. */
  def frame[T <: Product : TypeTag](spark: SparkSession, records: Seq[T]): DataFrame = {
    val df = spark.createDataFrame(records)
    df.toDF(df.columns.toSeq.map(snakeCase.translate): _*)
  }

  /** A counter record's numbers as (key, value) in field order; a nested
    * record's keys are prefixed with its own: `Stages` gives `scan_rows`,
    * `parse_rows_ok`, ... */
  def counters(record: Product): Seq[(String, Long)] =
    record.productElementNames.map(snakeCase.translate).zip(record.productIterator)
      .flatMap {
        case (k, v: Long) => Seq(k -> v)
        case (k, nested: Product) => counters(nested).map { case (f, v) => s"${k}_$f" -> v }
      }.toSeq

  def isSinkEntry(name: String): Boolean = name.endsWith(".json") && !name.startsWith("_")
  def runRecordName(runId: String): String = s"_metrics_$runId.json"
  def isRunRecord(name: String): Boolean = name.startsWith("_metrics_") && name.endsWith(".json")
  def isSnapshot(name: String): Boolean = name.startsWith("snap-") && name.endsWith(".json")
  def snapshotName(id: Long): String = f"snap-$id%08d.json"
  /** The inverse of [[snapshotName]]. */
  def snapshotId(name: String): Long = name.stripPrefix("snap-").stripSuffix(".json").toLong
}
