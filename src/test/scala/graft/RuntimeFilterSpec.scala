package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning — the third leg of the scan-reduction
  * triptych this engine leans on at 100 TB: static predicate pushdown
  * (always), dynamic partition pruning for PARTITION join keys (DppSpec),
  * and Spark's runtime bloom filter for NON-partition join keys: when one
  * join side carries a selective filter, the optimizer builds a bloom sketch
  * of its join keys at runtime and injects `might_contain(xxhash64(key))`
  * into the OTHER side's scan filter, so most of the big side's rows die at
  * the scan instead of traveling through the shuffle.
  *
  * Nothing to implement — the rule ships with Spark — but it only pays off
  * when a query reaches it, and its gating is all size thresholds:
  * `applicationSideScanSizeThreshold` (10 GB default) and
  * `creationSideThreshold` (10 MB). At production scale a fact scan clears
  * 10 GB on its own; the test fixture never would, so the thresholds are
  * scoped down here. This suite pins that the engine's join shapes DO reach
  * the rule (an upgrade or conf regression that silently stops injecting the
  * filter fails here, not as an unexplained shuffle blow-up at scale). */
class RuntimeFilterSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def withRuntimeFilterConfs[A](body: => A): A =
    Session.withConf(spark,
      // fixture-scale stand-ins for sizes a 100 TB fact clears by default
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      // keep the join a shuffle join: a broadcast join already hash-probes
      // the small side, so the rule (correctly) declines to add a bloom
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")(body)

  test("a selective dim filter injects might_contain into the fact scan; rows unchanged") {
    val expected = { // same join, rule inactive at default thresholds
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 499000)
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    withRuntimeFilterConfs {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 499000) // selective creation side
      val j = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val got = j.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "the fact scan must carry the runtime bloom probe of the dim's join keys")
      assert(got === expected, "the bloom filter is a pre-filter, never a semantics change")
    }
  }

  test("no selective creation-side predicate → no runtime filter (negative control)") {
    withRuntimeFilterConfs {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet") // unfiltered
      val j = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(!j.queryExecution.executedPlan.toString.contains("might_contain"),
        "a bloom of ALL keys filters nothing — the rule must decline")
    }
  }
}
