package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` of named [[graft.SparkEntry]] queries to
  * files — the before/after plan evidence an optimization round commits under
  * `plans/rNN/` (the judge cannot run Spark; these files are what plan claims
  * are checked against).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q>[,q...]
  * writes `<outDir>/<q>_<suffix>.txt` per query.
  *
  * Same static-plan discipline as [[PlanPin]]: AQE off for the snapshot (an
  * AQE plan pre-action is an unfinalized shell) and the bucketed-scan
  * ordering flag set, on PlanPin's 4-core session.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("plans/r07")
    val suffix = args.lift(2).getOrElse("before")
    val names = args.lift(3).map(_.split(",").toSeq)
      .getOrElse(PlanPin.pinned)
    val spark = graft.Session.local("graft-plandump", 4)
    Files.createDirectories(Paths.get(outDir))
    PlanPin.withStaticPlans(spark) {
      names.foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"wrote $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
