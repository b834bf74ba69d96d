package graft.tools

import org.apache.spark.sql.functions._
import graft.text.Curation

/** Runnable curation export: the full DAG ([[graft.text.Curation.run]])
  * over a documents table, written as parquet partitioned by split (so a
  * training loader prunes to its split at the directory level), with a
  * one-line JSON summary on stdout.
  *
  * Usage: runMain graft.tools.Curate <sfDir> <outDir> [maxTokens]
  */
object Curate {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Curate <sfDir> <outDir> [maxTokens]")
    val maxTokens = if (args.length > 2) args(2).toInt else 2048
    val spark = graft.Session.local("graft-curate", graft.Session.cpus)
    try {
      val out = Curation.run(
        spark.read.parquet(s"${args(0)}/documents.parquet"),
        Curation.Config(maxTokens = maxTokens))
      out.write.mode("overwrite").partitionBy("split").parquet(args(1))
      val stats = spark.read.parquet(args(1))
        .groupBy("split")
        .agg(count(lit(1)).as("docs"),
          countDistinct(col("pack_id"), col("shard")).as("packs"),
          sum(col("n_tokens")).as("tokens"))
        .collect()
        .map(r => r.getString(0) ->
          Map("docs" -> r.getLong(1), "packs" -> r.getLong(2), "tokens" -> r.getLong(3)))
        .toMap
      println(graft.manifest.Records.mapper.writeValueAsString(
        Map("curate" -> stats, "out" -> args(1))))
    } finally spark.stop()
  }
}
