package graft

import java.nio.file.Files

import graft.layout.{Compact, Skipping, ZOrder}
import org.apache.spark.sql.functions._

/** Small-file compaction: bin-pack correctness (content multiset-equal, file
  * count hits the plan), no-op idempotence, clustered re-compaction restoring
  * pruning effectiveness after appends erode the layout, and incremental
  * manifest maintenance (appends stat only the new files; vanished files'
  * rows are dropped). */
class CompactSpec extends SparkSpec {

  import spark.implicits._

  private def rows(n: Int, from: Int = 0) = (from until from + n)
    .map { i => (i.toLong, i.toLong * 37 % 256, i.toLong * 101 % 256) }
    .toDF("id", "a", "b")

  private def tmpDir(): String =
    Files.createTempDirectory("graft-compact").toString + "/t"

  test("bin-pack: content multiset-equal, file count collapses, then no-op") {
    val dir = tmpDir()
    rows(4096).repartition(64).write.parquet(dir) // 64 tiny files
    assert(Compact.dataFiles(dir).size === 64)
    val bytes = Compact.dataFiles(dir).map(Files.size).sum
    val r = Compact.compact(spark, dir, targetFileBytes = bytes / 4 + 1)
    assert(r.rewritten && r.filesBefore === 64 && r.filesAfter <= 4,
      s"expected <=4 files, got $r")
    val got = spark.read.parquet(dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(got === rows(4096).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq)
    // second call: the compacted files meet the (recomputed) target →
    // untouched, same file identities. The target is re-derived from the
    // POST-compaction bytes: packing 64 tiny files shrinks total size (per-
    // file parquet overhead disappears), so the original bloated-size target
    // would legitimately ask for another round.
    val names = Compact.dataFiles(dir).map(_.getFileName.toString).sorted
    val bytes2 = Compact.dataFiles(dir).map(Files.size).sum
    val r2 = Compact.compact(spark, dir, targetFileBytes = bytes2 / names.size + 1)
    assert(!r2.rewritten &&
      Compact.dataFiles(dir).map(_.getFileName.toString).sorted === names)
  }

  test("mid-swap reader with the retry contract never sees a missing dir or partial set") {
    // deterministically reproduce the swap's only unsafe instant — the
    // window between compact()'s two renames, where `dir` is absent — and
    // prove the documented reader contract (Compact.readRetrying) rides it
    // out to a COMPLETE post-swap file set
    val dir = tmpDir()
    rows(2048).repartition(8).write.parquet(dir)
    val tmp = dir + "__compact"
    rows(2048).coalesce(2).write.parquet(tmp) // the fully-committed incoming dir
    val aside = java.nio.file.Paths.get(dir + "__gc")
    Files.move(java.nio.file.Paths.get(dir), aside) // rename 1: dir is now ABSENT
    val reader = scala.concurrent.Future {
      Compact.readRetrying(spark, dir).collect()
    }(scala.concurrent.ExecutionContext.global)
    // plain read in the window fails — the hazard being closed
    intercept[org.apache.spark.sql.AnalysisException] { spark.read.parquet(dir) }
    Thread.sleep(100) // let the retrying reader observe the absent-dir window
    Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(dir)) // rename 2
    graft.util.Fs.deleteRecursively(aside)
    val got = scala.concurrent.Await.result(reader, scala.concurrent.duration.Duration("30s"))
    assert(got.length === 2048, s"mid-swap reader saw ${got.length} of 2048 rows")
  }

  test("compact rebuilds sibling bloom indexes (stale-path regression)") {
    // a per-file bloom index references the exact part files compaction
    // replaces: left stale it fails fast on dead paths (or silently loses
    // rows under ignoreMissingFiles). compact() must rebuild it like the
    // stats manifest.
    val dir = tmpDir()
    rows(4096).repartition(32, col("id")).write.parquet(dir)
    graft.layout.BloomIndex.writeIndex(spark, dir, "id", expectedItemsPerFile = 512)
    val staleFiles = spark.read.parquet(graft.layout.BloomIndex.indexPath(dir, "id"))
      .select("file").collect().map(_.getString(0)).toSet
    val bytes = Compact.dataFiles(dir).map(Files.size).sum
    val r = Compact.compact(spark, dir, targetFileBytes = bytes / 2 + 1)
    assert(r.rewritten)
    // the index now references only LIVE files...
    val newFiles = spark.read.parquet(graft.layout.BloomIndex.indexPath(dir, "id"))
      .select("file").collect().map(_.getString(0)).toSet
    val liveNames = Compact.dataFiles(dir).map(_.getFileName.toString).toSet
    assert(newFiles.forall(f => liveNames.exists(n => f.endsWith(n))),
      s"index references non-live files:\n${newFiles.mkString("\n")}")
    assert(newFiles !== staleFiles, "index was not rebuilt")
    // ...and the lookup law still holds over the compacted layout
    val keys = Seq[Any](7L, 1234L, 999999L)
    val got = graft.layout.BloomIndex.lookup(spark, dir, "id", keys)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(dir).filter(col("id").isin(keys: _*))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want)
  }

  test("bloom rebuild is sized by the compacted rows, files appended after the index included") {
    // the stale index's n_rows covers only the files it indexed: an append
    // made after writeIndex would undercount and undersize the rebuilt blooms
    val dir = tmpDir()
    rows(4096).repartition(32, col("id")).write.parquet(dir)
    graft.layout.BloomIndex.writeIndex(spark, dir, "id", expectedItemsPerFile = 128)
    rows(2048, from = 4096).coalesce(1).write.mode("append").parquet(dir)
    val bytes = Compact.dataFiles(dir).map(Files.size).sum
    assert(Compact.compact(spark, dir, targetFileBytes = bytes / 2 + 1).rewritten)
    def index(): Set[(String, Long, Seq[Byte])] =
      spark.read.parquet(graft.layout.BloomIndex.indexPath(dir, "id")).collect()
        .map(r => (r.getAs[String]("file"), r.getAs[Long]("n_rows"),
          r.getAs[Array[Byte]]("bloom").toSeq)).toSet
    val rebuilt = index()
    // a fresh index over the compacted dir at its true rows-per-file
    val total = spark.read.parquet(dir).count()
    assert(total === 6144L)
    graft.layout.BloomIndex.writeIndex(spark, dir, "id",
      expectedItemsPerFile = total / Compact.dataFiles(dir).size + 1)
    assert(rebuilt === index())
  }

  test("clustered compaction restores pruning after appends erode the layout") {
    val dir = tmpDir()
    ZOrder.writeZOrdered(rows(8192), col("a"), col("b"), dir, nFiles = 16)
    Skipping.writeStats(spark, dir, Seq("a", "b"))
    val preds = Seq(("a", 32L, 63L), ("b", 96L, 127L))
    val (kept0, total0) = Skipping.selectFiles(spark, dir, preds)
    assert(kept0.size.toLong * 2 <= total0, s"z layout should prune: $kept0/$total0")

    // 8 unclustered append batches: each spans the full key domain, so each
    // new file's box intersects EVERY query box — pruning decays
    (0 until 8).foreach { i =>
      rows(1024, from = 8192 + i * 1024).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    Skipping.updateStats(spark, dir, Seq("a", "b"))
    val (kept1, total1) = Skipping.selectFiles(spark, dir, preds)
    assert(total1 === total0 + 8)
    assert(kept1.size >= kept0.size + 8, "every appended file must be kept (full-domain box)")
    // pruned read stays EXACT even on the eroded layout (the soundness law)
    val want = spark.read.parquet(dir)
      .filter(col("a").between(32, 63) && col("b").between(96, 127))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(Skipping.prunedRead(spark, dir, preds)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === want)

    // clustered re-compaction: restore the z layout AND rebuild the manifest
    val bytes = Compact.dataFiles(dir).map(Files.size).sum
    val r = Compact.compact(spark, dir, targetFileBytes = bytes / 16 + 1,
      sortCols = Seq(ZOrder.zorder2(col("a"), col("b"))))
    assert(r.rewritten, s"erosion should trigger a rewrite: $r")
    val (kept2, total2) = Skipping.selectFiles(spark, dir, preds)
    assert(kept2.size.toLong * 2 <= total2,
      s"re-compacted layout must prune again: ${kept2.size}/$total2")
    assert(Skipping.prunedRead(spark, dir, preds)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === want)
  }

  test("updateStats stats only the new files and drops vanished ones") {
    val dir = tmpDir()
    rows(512).coalesce(1).write.parquet(dir)
    Skipping.writeStats(spark, dir, Seq("a"))
    val before = spark.read.parquet(Skipping.statsPath(dir))
      .select("file").as[String].collect().toSet
    assert(before.size === 1)

    rows(512, from = 512).coalesce(1).write.mode("append").parquet(dir)
    Skipping.updateStats(spark, dir, Seq("a"))
    val after = spark.read.parquet(Skipping.statsPath(dir)).collect()
    assert(after.length === 2)
    // the original file's row must be byte-identical (not recomputed)
    assert(after.map(_.getAs[String]("file")).toSet.intersect(before) === before)
    assert(after.map(_.getAs[Long]("n_rows")).sum === 1024L)

    // delete one data file → its manifest row is dropped on the next update
    val victim = Compact.dataFiles(dir).head
    Files.delete(victim)
    Skipping.updateStats(spark, dir, Seq("a"))
    val fin = spark.read.parquet(Skipping.statsPath(dir)).collect()
    assert(fin.length === 1 &&
      !fin.head.getAs[String]("file").endsWith(victim.getFileName.toString))
  }
}
