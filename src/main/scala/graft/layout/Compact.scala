package graft.layout

import java.nio.file.{Files, Path, Paths}

import graft.util.Fs
import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Small-file compaction — the lakehouse OPTIMIZE analog over plain parquet
  * dirs, closing the layout family: [[ZOrder]] writes a clustered layout,
  * [[Skipping]] records and exploits its per-file stats, and Compact repairs
  * the layout after incremental appends erode it.
  *
  * Why it matters at 100 TB: streaming sinks and per-batch appends produce
  * files sized by CADENCE, not by optimal scan width — a minutely micro-batch
  * over a year is ~500 k files whose open/footer/seek overhead dominates the
  * scan, and whose per-file stats boxes (each batch spans the full key
  * domain) prune nothing. Compaction bin-packs them back to target-sized
  * files; the clustered variant re-sorts so the stats boxes tighten again.
  *
  * Reference analog: the shipper's hour-bucket GB rotation
  * (`/root/reference/source/sender/pool.go:71-88` caps per-object size at
  * ship time) solves sizing for WRITE-once objects; an analytics table that
  * is re-read forever needs the read-side repair this module provides.
  *
  * Mechanics (local-fs edition; on a cluster the swap is a metadata commit):
  *   - plan:   list data files, `nOut = ceil(bytes / targetFileBytes)`;
  *             already at or under `nOut` files → NO-OP (idempotent, cheap
  *             to call after every append).
  *   - rewrite: unsorted bin-pack uses `coalesce(nOut)` — NO shuffle, each
  *             output task concatenates whole input files; clustered
  *             compaction (`sortCols`) pays one range shuffle to restore
  *             the [[ZOrder]]-style layout.
  *   - swap:   write to `<dir>__compact`, rename dir aside, rename tmp in,
  *             delete the old — readers never see a half-written dir.
  *   - stats:  an existing [[Skipping]] manifest is rebuilt after the swap
  *             (file identities changed, so incremental update can't help);
  *             so is every [[BloomIndex]] sibling (`<dir>__bloom_<col>`) —
  *             a surviving index would reference the dead pre-compaction
  *             files (fail-fast normally; silent row loss under
  *             ignoreMissingFiles).
  */
object Compact {

  /** What a [[compact]] call did: `rewritten=false` means the dir already
    * met the target and was left untouched byte-for-byte. */
  final case class CompactResult(
      rewritten: Boolean, filesBefore: Int, filesAfter: Int, bytes: Long)

  /** The parquet data files of `dir` (commit markers and `_`-prefixed
    * metadata excluded — mirroring what a path-based read would load). */
  def dataFiles(dir: String): Seq[Path] =
    Fs.listDir(Paths.get(dir)).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Bin-pack `dir` into `ceil(bytes / targetFileBytes)` files (≥ 1).
    *
    * @param sortCols  non-empty restores a clustered layout (range-partition
    *                  + sort — e.g. the [[ZOrder.zorder2]] key to re-tighten
    *                  2-D stats boxes); empty is pure shuffle-free bin-pack.
    * @param statCols  non-empty (or an existing manifest at
    *                  [[Skipping.statsPath]]) rebuilds the stats manifest
    *                  over the new files after the swap. */
  def compact(spark: SparkSession, dir: String, targetFileBytes: Long,
      sortCols: Seq[Column] = Nil, statCols: Seq[String] = Nil): CompactResult = {
    require(targetFileBytes > 0, s"targetFileBytes out of range: $targetFileBytes")
    val files = dataFiles(dir)
    val bytes = files.map(Files.size).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (files.size <= nOut)
      return CompactResult(rewritten = false, files.size, files.size, bytes)
    // resolved only on the rewrite path: the advertised cheap
    // call-after-every-append no-op must stay a pure local file listing
    val manifestCols: Seq[String] =
      if (statCols.nonEmpty) statCols
      else statsColsOf(spark, dir).getOrElse(Nil)

    val df = spark.read.parquet(dir)
    val packed =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols: _*).sortWithinPartitions(sortCols: _*)
      else df.coalesce(nOut)
    val tmp = dir.stripSuffix("/") + "__compact"
    // the rewrite's own row count sizes any bloom rebuild below: exact, and
    // no extra pass over the table
    val written = Observation("graft_compact")
    packed.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").parquet(tmp)

    // swap: aside-rename keeps a complete dir visible at every instant
    val dirP = Paths.get(dir)
    val aside = Paths.get(dir.stripSuffix("/") + "__gc")
    Fs.deleteRecursively(aside) // debris from a crashed earlier swap
    Files.move(dirP, aside)
    Files.move(Paths.get(tmp), dirP)
    Fs.deleteRecursively(aside)

    if (manifestCols.nonEmpty) Skipping.writeStats(spark, dir, manifestCols)
    // per-file bloom indexes (<dir>__bloom_<col>) reference the files just
    // replaced: left alone they fail fast on the dead paths (or, with
    // spark.sql.files.ignoreMissingFiles=true, silently lose rows — the
    // exact hazard SparkEntry.ensureZOrderedEvents documents). Rebuild them
    // over the new files, like the stats manifest above. Sizing note: the
    // original expectedItemsPerFile is not recorded in the index, so the
    // rebuild sizes each filter to the compacted layout's actual
    // rows-per-file (ceil(total/nOut files)) — what writeIndex's contract
    // asks for ("size to the layout's target rows-per-file"). The row total
    // is the one the rewrite observed — not the stale index's n_rows, which
    // misses files appended after the index was built.
    val bloomCols = bloomColsOf(dir)
    if (bloomCols.nonEmpty) {
      val rows = written.get("rows").asInstanceOf[Long]
      val perFile = math.max(1L, rows / math.max(1, dataFiles(dir).size) + 1)
      bloomCols.foreach(c =>
        BloomIndex.writeIndex(spark, dir, c, expectedItemsPerFile = perFile))
    }
    CompactResult(rewritten = true, files.size, dataFiles(dir).size, bytes)
  }

  /** The columns with a [[BloomIndex]] sibling dir (`<dir>__bloom_<col>`) —
    * the indexes a rewrite invalidates (file identities changed). */
  private def bloomColsOf(dir: String): Seq[String] = {
    val base = Paths.get(dir.stripSuffix("/"))
    val prefix = base.getFileName.toString + "__bloom_"
    val parent = base.toAbsolutePath.getParent
    if (parent == null || !Files.isDirectory(parent)) Nil
    else Fs.listDir(parent)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
      .map(_.getFileName.toString.stripPrefix(prefix))
  }

  /** Reader half of the swap contract. [[compact]]'s aside-rename swap keeps
    * a COMPLETE directory visible at every instant except the sub-ms window
    * between its two renames, where `dir` is momentarily absent — a reader
    * listing exactly then sees "path does not exist", never a partial file
    * set (the incoming dir was fully written and committed before the swap
    * started). This helper closes that window: retry the listing with
    * backoff until the swap's second rename lands. On a cluster the swap is
    * a metadata commit (snapshot pointer) and the window does not exist;
    * this is the documented local-fs contract, pinned by CompactSpec's
    * mid-swap reader test. */
  def readRetrying(spark: SparkSession, dir: String, attempts: Int = 40,
      backoffMs: Long = 25): org.apache.spark.sql.DataFrame = {
    require(attempts >= 1, s"attempts out of range: $attempts")
    var i = 1
    while (i < attempts) {
      // retry ONLY the swap window's signature (path momentarily absent) —
      // a typo'd dir or a genuinely unreadable table must not spin through
      // attempts×backoff before surfacing its real error
      try return spark.read.parquet(dir)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getErrorClass == "PATH_NOT_FOUND" =>
          Thread.sleep(backoffMs)
      }
      i += 1
    }
    spark.read.parquet(dir) // the last attempt surfaces its own error
  }

  /** The columns an existing [[Skipping]] manifest at `dir` indexes (from
    * its `min_*` schema), or None when no manifest exists. */
  private def statsColsOf(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val p = Paths.get(Skipping.statsPath(dir))
    if (!Files.isDirectory(p)) None
    else Some(spark.read.parquet(p.toString).schema.fieldNames.toSeq
      .collect { case n if n.startsWith("min_") => n.stripPrefix("min_") })
  }
}
