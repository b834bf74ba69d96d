package graft.manifest

import java.nio.file.Files

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import Records._

/** The manifest's record codec: the on-disk field names and value types of
  * every record, and the atomic writer under concurrent writers of one name. */
class RecordsSpec extends AnyFunSuite {

  private val entry = SinkEntry("r\"1", "sink_a", 3L, 30L, 2L, 7L, "2026-01-01T00:00:00Z")
  private val snapshot =
    SnapshotRecord(7L, 6L, "r1", "sink_a", "commit", 3L, 30L, 2L, "2026-01-01T00:00:00Z")
  private val retention =
    Manifest.Retention(5L, Map("s2" -> Manifest.Retention.Base(3L, 2L),
      "s1" -> Manifest.Retention.Base(1L, 1L)))
  private val run = RunRecord("r1", 10L, 100L, 2,
    Stages(ScanCounts(8L), ParseCounts(7L, 1L), RouteCounts(8L, 1L, 10L)),
    Map("sink_a" -> SinkCounters(10L, 100L, 9L, 90L, 1L, 10L)))

  /** Every field of `n`, recursively, as `path:kind` (s string, n integer,
    * o object); map keys (sink names) are spelled `*`. */
  private def shape(n: JsonNode, path: String = "", mapAt: Set[String] = Set.empty): Set[String] = {
    import scala.jdk.CollectionConverters._
    n.properties().asScala.flatMap { e =>
      val p = if (mapAt(path)) s"$path*" else s"$path${e.getKey}"
      val v = e.getValue
      if (v.isObject) Set(s"$p:o") ++ shape(v, s"$p.", mapAt)
      else Set(s"$p:${if (v.isTextual) "s" else if (v.isIntegralNumber) "n" else "?"}")
    }.toSet
  }

  private def shapeOf(r: AnyRef, mapAt: String*): Set[String] =
    shape(mapper.readTree(mapper.writeValueAsString(r)), "", mapAt.toSet)

  test("every record serializes to exactly the field names and value types on disk") {
    assert(shapeOf(entry) === Set("run_id:s", "sink:s", "row_count:n", "bytes:n", "convs:n",
      "snapshot_id:n", "committed_ts:s"))
    assert(shapeOf(snapshot) === Set("snapshot_id:n", "parent_id:n", "run_id:s", "sink:s",
      "op:s", "row_count:n", "bytes:n", "convs:n", "committed_ts:s"))
    assert(shapeOf(retention, "bases.") === Set("horizon:n", "bases:o", "bases.*:o",
      "bases.*.max_batch:n", "bases.*.n_batches:n"))
    assert(shapeOf(run, "per_sink.") === Set("run_id:s", "routed_rows:n", "routed_bytes:n",
      "sinks:n", "stages:o", "stages.scan:o", "stages.scan.rows:n", "stages.parse:o",
      "stages.parse.rows_ok:n", "stages.parse.rows_quarantined:n", "stages.route:o",
      "stages.route.rows_in:n", "stages.route.rows_dead_letter:n",
      "stages.route.fanout_rows:n", "per_sink:o", "per_sink.*:o", "per_sink.*.in_rows:n",
      "per_sink.*.in_bytes:n", "per_sink.*.out_rows:n", "per_sink.*.out_bytes:n",
      "per_sink.*.dropped_rows:n", "per_sink.*.dropped_bytes:n"))
    // map entries are written in key order
    assert(mapper.writeValueAsString(retention) ===
      """{"horizon":5,"bases":{"s1":{"max_batch":1,"n_batches":1},"s2":{"max_batch":3,"n_batches":2}}}""")
  }

  test("records round-trip through the atomic writer and the reader, quotes escaped") {
    val dir = Files.createTempDirectory("graft-records").resolve("_manifest")
    writeAtomic(dir, "sink_a.json", entry)
    writeAtomic(dir, "_metrics_r1.json", run)
    assert(readAll[SinkEntry](dir, isSinkEntry) === Seq(entry))
    assert(readAll[RunRecord](dir, isRunRecord) === Seq(run))
    assert(Files.readString(dir.resolve("sink_a.json")).contains(""""run_id":"r\"1""""))
  }

  test("concurrent atomic writes of one name all return and leave a parseable file") {
    val dir = Files.createTempDirectory("graft-records-race").resolve("_manifest")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = (0 until 50).foreach(i =>
            writeAtomic(dir, "sink_a.json", entry.copy(rowCount = t * 100L + i)))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val last = readAll[SinkEntry](dir, isSinkEntry)
    assert(last.size === 1 && last.head.copy(rowCount = entry.rowCount) === entry)
    assert(graft.util.Fs.listDir(dir.resolveSibling("_tmp")).isEmpty, "tmp files left behind")
  }
}
