package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.enrich.Enrichment
import graft.limit.{RateLimit, SinglePassLimit}
import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.route.Router

/** Phase/stage-timing probe for the single-pass e2e (operational tool, not
  * part of the driver contract): runs the v3 job once at SPARK_GRAFT_CPUS
  * and prints per-stage wall clock + task counts, to find the stages that
  * stop scaling between parallelism levels. */
object SpProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_BENCH_MULT", "1024").toInt
    val salt = sys.env.getOrElse("SPARK_GRAFT_SALT", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.E2eRunner.session(cpus)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        if (ms > 300)
          stages.add(f"PROBE   stage ${si.stageId}%3d tasks=${si.numTasks}%4d wall=${ms / 1000.0}%7.2f s")
      }
    })
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.util.Env.scratchDir), "probe").toString
    // warm
    graft.E2eRunner.e2e(spark, sfDir, s"$tmp/warm", 8, salt)
    Bridge.drainListenerBus(spark.sparkContext) // async bus: no warm-up stages
    stages.clear()
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val turns = Transcripts.amplified(spark, sfDir, mult)
    val rules = RateLimit.defaultRules()
    val fanned = Router.fanOut(Enrichment.enrich(Pipeline.parsedProjected(turns), spark))
    val survived = timed("plan") {
      SinglePassLimit.limitReusingShuffle(fanned, rules, saltBuckets = salt)
    }
    timed("map stage+verdicts+write") {
      survived.write.mode("overwrite").parquet(s"$tmp/out")
    }
    Bridge.drainListenerBus(spark.sparkContext)
    stages.forEach(println)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    spark.stop()
  }
}
