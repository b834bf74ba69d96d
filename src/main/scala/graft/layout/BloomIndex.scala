package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BloomAgg

/** Per-file Bloom index — point-lookup file pruning where [[Skipping]]'s
  * min/max boxes can't help. A z-ordered layout tightens RANGE boxes on the
  * clustering keys, but a point predicate on any OTHER high-cardinality
  * column (an event id, a document hash, a trace id) intersects every box:
  * min/max keeps all files. A per-file bloom answers "might file F contain
  * key k?" with no false negatives, so an equality lookup opens only the
  * files whose filter fires — on a layout where each key lives in one file,
  * that's O(1 + fpp·files) opens out of 100 k.
  *
  * This is the Parquet bloom-filter / Delta bloom-index story lifted to the
  * manifest level: like [[Skipping]], the index is a small parquet table
  * beside the data dir (one row per file: file, n_rows, bloom bytes) at the
  * same bounded one-row-per-file granularity Iceberg/Delta manifests are.
  * A 1 M-key 1 % bloom is ~1.2 MB; 100 k files ≈ 120 GB of blooms — so the
  * probe runs DISTRIBUTED by default ([[selectFilesDistributed]]: the
  * manifest is probed where it lies, and only (file, verdict) pairs reach
  * the driver — never a bloom payload) and the write shards the manifest across reduce tasks (no
  * single-writer funnel); the write is one scan + one shuffle of
  * (file, bloom) partials.
  *
  * Soundness: blooms have no false negatives, so pruning never loses a row;
  * the residual equality filter in [[lookup]] removes false-positive FILES'
  * rows (a kept file may not actually hold the key), keeping results exact
  * at any fpp. BloomIndexSpec proves lookup == full-scan filter on random
  * keys, present and absent.
  */
object BloomIndex {

  /** One index per (dir, column), beside the data dir like
    * [[Skipping.statsPath]] — `_`-prefixed names inside would be invisible
    * to path reads, plain files inside would join the table. */
  def indexPath(dir: String, column: String): String =
    dir.stripSuffix("/") + s"__bloom_$column"

  /** Build (overwrite) the per-file bloom index for `column`: one scan of
    * the table grouped by file. Run once per (re)write of `dir`, like
    * [[Skipping.writeStats]].
    *
    * @param expectedItemsPerFile sizes each file's filter; oversizing only
    *   costs space (fpp drops), undersizing degrades fpp — size to the
    *   layout's target rows-per-file, not to the table. */
  def writeIndex(spark: SparkSession, dir: String, column: String,
      expectedItemsPerFile: Long = 1L << 20, fpp: Double = 0.01): Unit = {
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        BloomAgg.bloomAgg(col(column), expectedItemsPerFile, fpp).as("bloom"))
      // no coalesce(1): each reduce task writes its own manifest shard, so a
      // 100 k-file table's ~120 GB of blooms never funnels through one
      // writer (the index is a directory like any table; readers list it)
      .write.mode("overwrite").parquet(indexPath(dir, column))
  }

  /** The files whose bloom fires for ANY of `keys` (an IN-list probes each
    * file once per key, short-circuiting on the first hit), plus the total
    * file count. Driver-side by design and bounded: one row per FILE, the
    * same granularity [[Skipping.selectFiles]] holds. */
  def selectFiles(spark: SparkSession, dir: String, column: String,
      keys: Seq[Any]): (Seq[String], Long) = {
    require(keys.nonEmpty, "give at least one lookup key")
    val rows = spark.read.parquet(indexPath(dir, column))
      .select(col("file"), col("bloom")).collect()
    val kept = rows.filter { r =>
      // deserialize ONCE per file, probe the live filter per key — a
      // k-key IN-list must not pay k deserializations of a multi-KB bitset
      val bf = BloomAgg.read(r.getAs[Array[Byte]]("bloom"))
      keys.exists(k => BloomAgg.mightContain(bf, k))
    }.map(_.getString(0)).toSeq
    (kept, rows.length.toLong)
  }

  /** Distributed twin of [[selectFiles]]: the manifest is PROBED where it
    * lies — each executor task deserializes and probes its own manifest
    * rows' blooms ([[graft.functions.BloomMightContainAny]], same hashing
    * and same per-file short-circuit as the driver loop) — and one (file
    * name, verdict) pair per file is collected. The driver never holds a
    * bloom: at the 100 k-file design point the driver form would collect ~120 GB
    * of filter payloads (guide §5: the driver should do almost no data
    * work); this form collects kilobytes of paths plus one boolean per file
    * — which is also why the verdict is PROJECTED rather than filtered: one
    * job yields both the kept set and the total file count (a filter +
    * separate `manifest.count()` would scan the manifest twice per lookup).
    * Same kept set as [[selectFiles]] by construction (BloomIndexSpec pins
    * the parity law). */
  def selectFilesDistributed(spark: SparkSession, dir: String, column: String,
      keys: Seq[Any]): (Seq[String], Long) = {
    require(keys.nonEmpty, "give at least one lookup key")
    val rows = spark.read.parquet(indexPath(dir, column))
      .select(col("file"), graft.functions.BloomProbeFunctions
        .bloom_might_contain_any(col("bloom"), keys).as("hit"))
      .collect()
    (rows.filter(r => !r.isNullAt(1) && r.getBoolean(1)) // null verdict drops,
      .map(_.getString(0)).toSeq, rows.length.toLong)    // as a filter would
  }

  /** Equality-lookup read that opens only bloom-positive files. The residual
    * IN filter keeps the result exactly equal to
    * `spark.read.parquet(dir).filter(col(column).isin(keys))` at any fpp.
    * File pruning runs DISTRIBUTED ([[selectFilesDistributed]]) so no bloom
    * payload ever collects to the driver; the driver-side [[selectFiles]]
    * remains for manifest-less/debug probing of small indexes. */
  def lookup(spark: SparkSession, dir: String, column: String,
      keys: Seq[Any]): DataFrame = {
    val (files, _) = selectFilesDistributed(spark, dir, column, keys)
    if (files.isEmpty) {
      val schema = spark.read.parquet(dir).schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else spark.read.parquet(files: _*).filter(col(column).isin(keys: _*))
  }
}
