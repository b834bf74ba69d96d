package graft.tools

import org.apache.spark.sql.graftbridge.Bridge

/** Stage-level wall-clock probe of the v3 e2e pipeline (the scaling-pair
  * workload): runs one warm-up + one timed `E2eRunner.e2e` at the given
  * core count and prints per-stage walls from a listener — run it under
  * `taskset` + `-XX:ActiveProcessorCount` to mirror Bench's isolation and
  * compare per-stage scaling across levels. Diagnostic only, not a bench.
  *
  * Usage: graft.tools.E2eProbe <cpus> <sfDir> <mult>
  */
object E2eProbe {
  def main(args: Array[String]): Unit = {
    val Array(cpusS, sfDir, multS) = args.take(3)
    val cpus = cpusS.toInt
    val spark = graft.E2eRunner.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val m = si.taskMetrics
        stages.add(f"E2ESTAGE cpus=$cpus id=${si.stageId}%3d tasks=${si.numTasks}%4d " +
          f"wall=${ms / 1000.0}%7.2f s exec=${m.executorRunTime / 1000.0}%8.1f s " +
          f"cpu=${m.executorCpuTime / 1e9}%8.1f s gc=${m.jvmGCTime / 1000.0}%6.1f s " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten >> 20}%6d MB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead >> 20}%6d MB " +
          f"fetchWait=${m.shuffleReadMetrics.fetchWaitTime / 1000.0}%6.1f s " +
          f"${si.name.takeWhile(_ != ' ')}")
      }
    })
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.util.Env.scratchDir), "e2eprobe").toString
    graft.E2eRunner.e2e(spark, sfDir, s"$tmp/warm", math.min(8, multS.toInt), 32)
    // the listener bus is async: drain the warm-up's events before the
    // clear, so none pollute the timed report
    Bridge.drainListenerBus(spark.sparkContext)
    stages.clear()
    val (sec, rows) = graft.E2eRunner.e2e(spark, sfDir, s"$tmp/out", multS.toInt, 32)
    println(f"E2EPROBE cpus=$cpus total=$sec%.2f s rows=$rows")
    Bridge.drainListenerBus(spark.sparkContext) // the timed run's last stages
    stages.forEach(println)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    spark.stop()
  }
}
