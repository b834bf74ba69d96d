package graft

import org.apache.spark.sql.functions._
import graft.relational.Tpch

/** Bucketed co-located joins — the pay-the-shuffle-once-at-ingest strategy
  * for repeated fact⋈fact joins: both tables bucketed (and bucket-sorted)
  * by the join key make the join exchange-free, with the scan itself
  * providing the hash clustering. */
class BucketJoinSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("bucketed fact join runs with zero exchanges and zero sorts before the SMJ") {
    try Session.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // Spark ≥3.0 stopped propagating bucket-file sort order by default
      // because it is only sound with ONE file per bucket — exactly what
      // writeBucketed's pre-write repartition-on-key guarantees, which is
      // what this conf exists for
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      Tpch.writeBucketed(spark.read.parquet(s"$sfDir/orders.parquet"),
        "b_orders", "o_orderkey", buckets = 8)
      Tpch.writeBucketed(spark.read.parquet(s"$sfDir/lineitem.parquet"),
        "b_lineitem", "l_orderkey", buckets = 8)
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      // the ONLY exchange is the final groupBy's — the join itself reads
      // pre-clustered, pre-sorted buckets
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey")
        && !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"join keys must not shuffle on bucketed tables:\n${plan.take(2000)}")
      assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
        s"exactly the aggregation exchange expected:\n${plan.take(2000)}")
      // bucket-sorted files: no Sort nodes under the SMJ either
      assert(!plan.contains("Sort [l_orderkey") && !plan.contains("Sort [o_orderkey"),
        s"bucket sortBy must satisfy the SMJ ordering:\n${plan.take(2000)}")
      // row parity with the plain shuffled join
      val shuffled = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .join(spark.read.parquet(s"$sfDir/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(canon(joined) === canon(shuffled))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
