package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.Pipeline

/** spark-submit entrypoint for the full pipeline run
  * (north_rule: "run via spark-submit on a multi-executor cluster").
  *
  *   spark-submit --class graft.Main <jar> <sfDir> <outRoot> [runId]
  *
  * Local sandbox equivalent: sbt "runMain graft.Main <sfDir> <outRoot>".
  * Rerunning with the same outRoot resumes from the manifest (idempotent).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Main <sfDir> <outRoot> [runId]")
    val Array(sfDir, outRoot) = args.take(2)
    val runId = if (args.length > 2) args(2) else java.util.UUID.randomUUID().toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // keep AQE skew handling but NOT partition coalescing: the sandbox's
      // tiny pre-amplification shuffles (~2 MB) coalesce to 1 partition and
      // serialize the downstream 64x-amplified work — a small-data artifact
      // that cannot occur at the real 10^12-row scale this job targets.
      // The limiter's read sits after the LAST exchange, where nothing is
      // downstream to serialize; ApplyVerdicts coalesces it itself, by the
      // same coalescePartitions.minPartitionSize rule
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = Pipeline.run(spark, sfDir, outRoot, runId)
    metrics.orderBy("sink").show(100, truncate = false)
    spark.stop()
  }
}
