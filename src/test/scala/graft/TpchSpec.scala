package graft

import org.apache.spark.sql.functions._
import graft.relational.Tpch

/** Relational join family over the TPC-H-shaped tables: result sanity at
  * sf0.001 (DuckDB parity is the driver's oracle job), intended join
  * strategies in the plan, and the AQE skew-join split on a deliberately
  * hot key. */
class TpchSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("pricing summary conserves row count and emits exact cents") {
    val res = Tpch.pricingSummary(spark, sfDir).collect()
    assert(res.nonEmpty)
    val items = res.map(_.getAs[Long]("n_items")).sum
    val total = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(items === total, "Q1 groups must partition the lineitem table")
    assert(res.forall(_.getAs[Long]("sum_disc_cents") > 0))
  }

  test("revenue by priority: every priority positive, orders bounded by items") {
    val res = Tpch.revenueByPriority(spark, sfDir).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[Long]("revenue_cents") > 0)
      assert(r.getAs[Long]("n_orders") <= r.getAs[Long]("n_items"))
    }
  }

  test("top customers: k rows, strictly ordered by (revenue desc, custkey)") {
    val res = Tpch.topCustomers(spark, sfDir, k = 10).collect()
    assert(res.length === 10)
    val keys = res.map(r => (-r.getAs[Long]("revenue_cents"), r.getAs[Long]("c_custkey")))
    assert(keys.toSeq === keys.sortBy(identity).toSeq, "output must arrive ordered")
  }

  test("nation volume: only ASIA nations, local-volume predicate respected") {
    val asia = spark.read.parquet(s"$sfDir/nation.parquet")
      .join(spark.read.parquet(s"$sfDir/region.parquet")
          .filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    val res = Tpch.nationVolume(spark, sfDir).collect()
    assert(res.nonEmpty)
    assert(res.map(_.getString(0)).toSet.subsetOf(asia))
  }

  test("anti-join: idle customers + their complement partition the customer table") {
    val idle = Tpch.customersWithoutBigOrders(spark, sfDir)
      .agg(sum(col("n_customers"))).head.getLong(0)
    val semi = spark.read.parquet(s"$sfDir/customer.parquet")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
          .filter(col("o_totalprice") > 400000.0),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .count()
    val total = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(idle > 0, "fixture must contain idle customers")
    assert(idle + semi === total, "anti + semi must partition customers")
  }

  test("plan shapes: tiny dims broadcast, top-k avoids global sort, filters push down, no cartesian") {
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val nv = Tpch.nationVolume(spark, sfDir).queryExecution.executedPlan.toString
      assert(nv.contains("BroadcastHashJoin"), "nation/region must broadcast")
      assert(!nv.contains("CartesianProduct"), "no cartesian in the 6-way join")
      val tc = Tpch.topCustomers(spark, sfDir).queryExecution.executedPlan.toString
      assert(tc.contains("TakeOrderedAndProject"),
        "top-k must be TakeOrdered (per-partition heap), not a global Sort+Limit")
      val rv = Tpch.revenueByPriority(spark, sfDir).queryExecution.executedPlan.toString
      assert(rv.contains("EqualTo(c_mktsegment,BUILDING)"),
        s"segment filter must reach the customer parquet scan:\n$rv")
      val ic = Tpch.customersWithoutBigOrders(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(ic.contains("LeftAnti"), "idle customers must plan a LEFT ANTI join")
      assert(ic.contains("GreaterThan(o_totalprice,400000.0)"),
        "price filter must reach the orders parquet scan")
    }
  }

  test("semi-join: waiting orders plan LEFT SEMI with the flag filter pushed down") {
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = Tpch.ordersWithReturns(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"EXISTS shape must plan LEFT SEMI:\n$plan")
      assert(plan.contains("EqualTo(l_returnflag,R)"),
        s"returnflag filter must reach the lineitem parquet scan:\n$plan")
      // the semi side ships ONLY the join key past its filter: the lineitem
      // scan reads just (key, filter column), and the build/exchange side
      // projects down to the bare key
      assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"),
        s"semi probe must prune lineitem to key + filter columns:\n$plan")
      assert("Project \\[l_orderkey#\\d+L\\]".r.findFirstIn(plan).nonEmpty,
        s"the semi build side must carry the key only:\n$plan")
      // semantics: every counted order has >= 1 'R' item; none counted twice
      val n = df.agg(sum(col("n_orders"))).head.getLong(0)
      val viaDistinct = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")).distinct().count()
      assert(n === viaDistinct, "semi-join must count each matching order exactly once")
    }
  }

  test("rollup: one Expand pass, levels sum consistently") {
    val res = Tpch.revenueRollup(spark, sfDir).collect()
    val grand = res.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    val nationSub = res.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    val leaves = res.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    assert(grand.length === 1)
    assert(nationSub.nonEmpty && leaves.nonEmpty)
    def cents(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.getAs[Long]("revenue_cents")).sum
    assert(cents(grand) === cents(nationSub), "nation subtotals must sum to the grand total")
    assert(cents(grand) === cents(leaves), "leaves must sum to the grand total")
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = Tpch.revenueRollup(spark, sfDir).queryExecution.executedPlan.toString
      assert(plan.contains("Expand"),
        "rollup must compute all grouping levels in one Expand pass, not one scan per level")
      assert("Expand".r.findAllIn(plan).length === 1, s"exactly one Expand:\n$plan")
    }
  }

  test("cube: four grouping sets, gid bit order, each margin sums to the grand total") {
    val res = Tpch.revenueCube(spark, sfDir).collect()
    def cents(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("revenue_cents")).sum
    val byGid = res.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet === Set(0L, 1L, 2L, 3L), "all four grouping sets present")
    // gid bit order: leftmost cube column (status) = MSB. gid=1 aggregates
    // AWAY priority (its rows have real statuses), gid=2 aggregates away
    // status
    assert(byGid(1L).forall(r =>
      r.getString(0) != "ALL" && r.getString(1) == "ALL"), "gid=1 is per-status")
    assert(byGid(2L).forall(r =>
      r.getString(0) == "ALL" && r.getString(1) != "ALL"), "gid=2 is per-priority")
    val grand = cents(byGid(3L))
    assert(byGid(3L).length === 1)
    for (g <- Seq(0L, 1L, 2L))
      assert(cents(byGid(g)) === grand, s"gid=$g margin must sum to the grand total")
    // one Expand pass, like rollup
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = Tpch.revenueCube(spark, sfDir).queryExecution.executedPlan.toString
      assert("Expand".r.findAllIn(plan).length === 1, s"exactly one Expand:\n$plan")
    }
  }

  test("bucketed revenue: zero exchange and zero sort on the fact join, parity with plain join") {
    // deliberately does NOT set bucketedTableScan.outputOrdering here: the
    // sort elision must come from the conf-scoped clone inside
    // revenueByPriorityBucketed, not from test session state
    try Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = Tpch.revenueByPriorityBucketed(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"fact spine must be an SMJ:\n${plan.take(800)}")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey")
        && !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join keys must not shuffle:\n${plan.take(2000)}")
      assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
        s"the ONLY exchange is the final aggregation's:\n${plan.take(2000)}")
      assert(!plan.contains("Sort [l_orderkey") && !plan.contains("Sort [o_orderkey"),
        s"bucket sortBy must satisfy the SMJ ordering:\n${plan.take(2000)}")
      assert(plan.contains("SelectedBucketsCount"),
        s"scans must be bucketed:\n${plan.take(2000)}")
      // row parity with the plain (unbucketed) formulation of the same SQL
      val plain = spark.read.parquet(s"$sfDir/orders.parquet")
        .join(spark.read.parquet(s"$sfDir/lineitem.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .join(spark.read.parquet(s"$sfDir/customer.parquet")
            .filter(col("c_mktsegment") === "MACHINERY"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0))
            .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(canon(df) === canon(plain))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS graft_orders_bkt_${java.lang.Integer.toHexString(sfDir.hashCode)}")
      spark.sql(s"DROP TABLE IF EXISTS graft_lineitem_bkt_${java.lang.Integer.toHexString(sfDir.hashCode)}")
    }
  }

  test("bucketed revenue never mutates the caller's session conf (the legacy " +
      "sort-propagation flag is only sound for one-file-per-bucket tables)") {
    val key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val before = spark.conf.get(key)
    assert(before === "false", "default must be the safe value for this check to mean anything")
    val df = Tpch.revenueByPriorityBucketed(spark, sfDir)
    assert(df.count() > 0)
    assert(spark.conf.get(key) === before,
      "a graded query must not leave a session-global planner flag flipped: " +
        "the NEXT bucketed table anyone registers would trust a per-bucket-file " +
        "sort order nothing guarantees")
    spark.sql(s"DROP TABLE IF EXISTS graft_orders_bkt_${java.lang.Integer.toHexString(sfDir.hashCode)}")
    spark.sql(s"DROP TABLE IF EXISTS graft_lineitem_bkt_${java.lang.Integer.toHexString(sfDir.hashCode)}")
  }

  test("the cached clone drops a conf the caller set and later UNSET") {
    // set → query → unset → query: the second plan must see the caller's
    // CURRENT state (key absent ⇒ default), not the stale synced value — a
    // lingering autoBroadcastJoinThreshold=-1 would silently disable every
    // later broadcast in the bucketed query
    val key = "spark.sql.autoBroadcastJoinThreshold"
    // static plan asserts; a failed assert must not leak -1 (or skip the
    // tables cleanup) into the suite-shared session
    try Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      assert(!spark.conf.getAll.contains(key), "the unset below must return to the default")
      // withConf unsets the key on exit, as it was absent before
      Session.withConf(spark, key -> "-1") {
        val noBhj = Tpch.revenueByPriorityBucketed(spark, sfDir)
        assert(!noBhj.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          "with the threshold off, customer must not broadcast (sanity of the probe)")
      }
      val withBhj = Tpch.revenueByPriorityBucketed(spark, sfDir)
      assert(withBhj.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "after the caller unsets the threshold, the clone must return to the " +
          "default (broadcast the small dim) instead of keeping the stale -1")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS graft_orders_bkt_${java.lang.Integer.toHexString(sfDir.hashCode)}")
      spark.sql(s"DROP TABLE IF EXISTS graft_lineitem_bkt_${java.lang.Integer.toHexString(sfDir.hashCode)}")
    }
  }

  test("AQE splits the skewed fact join (skew=true in the final plan)") {
    // ~1/3 of lineitem remapped onto ONE hot orderkey — the hot partition is
    // many × the others. Thresholds lowered so the 60k-row fixture crosses
    // them; broadcast disabled so the join stays sort-merge (at 100 TB a
    // fact⋈fact join IS sort-merge — this is the shape under test).
    Session.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // repartition(8) first: AQE splits a skewed reduce partition at MAP
      // OUTPUT granularity, and the single-file fixture scan is one mapper —
      // a real fact table always has many (at 100 TB, thousands)
      val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .repartition(8)
        .withColumn("l_orderkey",
          when(col("l_orderkey") % 2 === 0, lit(1L)).otherwise(col("l_orderkey")))
      val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(floor(col("l_quantity")).cast("long")).as("qty"))
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must split the hot partition (OptimizeSkewedJoin):\n$finalPlan")
    }
  }
}
