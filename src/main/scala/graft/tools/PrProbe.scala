package graft.tools

import org.apache.spark.sql.functions._

/** Phase probe for q_pagerank: times the edge derivation, the invariant
  * materializations, and the iteration chain separately so optimization
  * effort lands where the seconds are. Diagnostic only — not a bench. */
object PrProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.E2eRunner.session(graft.Session.cpus)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PRPROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    (1 to 2).foreach { rep =>
      println(s"--- rep $rep ---")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      val or = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(or, li("l_orderkey") === or("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("a"),
          concat(lit("c"), col("o_custkey")).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val e = t("derive+distinct+ckpt(e)") {
        val e0 = edges.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst")).distinct().localCheckpoint(eager = false)
        e0.count(); e0
      }
      val eo = t("eo ckpt") {
        val out = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        val x = e.join(out, "src").repartition(col("src"))
          .sortWithinPartitions(col("src")).localCheckpoint(eager = false)
        x.count(); x
      }
      val nodes = t("nodes ckpt") {
        val n = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .repartition(col("node")).sortWithinPartitions(col("node"))
          .localCheckpoint(eager = false)
        n.count(); n
      }
      val nN = nodes.count()
      val base = 1000000000000L * 15L / (100L * nN)
      var rank = nodes.withColumn("rank", lit(1000000000000L / nN))
      t(s"$iters iterations + noop") {
        for (_ <- 1 to iters) {
          val inSum = eo.join(rank.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
          rank = nodes.join(inSum, Seq("node"), "left")
            .select(col("node"),
              (lit(base) + expr(s"85L * coalesce(in_sum, 0L) div 100L")).as("rank"))
        }
        rank.write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
