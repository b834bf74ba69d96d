package graft

import graft.config.PipelineConfig
import graft.pipeline.Pipeline

/** spark-submit entrypoint for the full pipeline run
  * (north_rule: "run via spark-submit on a multi-executor cluster").
  *
  *   spark-submit --class graft.Main <jar> <sfDir> <outRoot> [runId] [config.yaml]
  *
  * `config.yaml` is a routing config ([[PipelineConfig]]); without one the
  * run uses the default rules ([[Pipeline.Config]]).
  * spark-submit's `--master` wins; without one the run is `local[N]` with N
  * = `SPARK_GRAFT_CPUS`, default the machine's processor count
  * ([[Session.local]]). Local equivalent:
  * sbt "runMain graft.Main <sfDir> <outRoot>".
  * Rerunning with the same outRoot resumes from the manifest (idempotent).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: graft.Main <sfDir> <outRoot> [runId] [config.yaml]")
    val Array(sfDir, outRoot) = args.take(2)
    val runId = if (args.length > 2) args(2) else java.util.UUID.randomUUID().toString
    val cfg = if (args.length > 3) PipelineConfig.fromFile(args(3)) else Pipeline.Config()
    val spark = Session.local("graft-pipeline", Session.cpus)
    val metrics = Pipeline.run(spark, sfDir, outRoot, runId, cfg)
    metrics.orderBy("sink").show(100, truncate = false)
    spark.stop()
  }
}
