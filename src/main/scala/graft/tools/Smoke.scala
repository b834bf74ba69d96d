package graft.tools

/** Mirrors the driver's t1 smoke: SparkEntry.entry must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("graft-smoke", graft.Session.cpus)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"SMOKE entry rows=$n")
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}
