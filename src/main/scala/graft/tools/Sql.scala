package graft.tools

/** Ad-hoc SQL runner with the graft extensions loaded — the SQL-facing
  * surface of the engine. Registers the testdata tables by name.
  * Usage: runMain graft.tools.Sql <sfDir> "<sql>" */
object Sql {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, sql) = args.take(2)
    val spark = graft.Session.local("graft-sql", graft.Session.cpus,
      "spark.sql.extensions" -> classOf[graft.GraftExtensions].getName)
    Seq("events", "documents", "embeddings", "lineitem", "orders", "customer")
      .foreach { t =>
        val p = s"$sfDir/$t.parquet"
        if (new java.io.File(p).exists())
          spark.read.parquet(p).createOrReplaceTempView(t)
      }
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }
}
