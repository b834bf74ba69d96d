package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.limit.{LimitRule, RateLimit, SinglePassLimit}
import graft.model.RoutedTurn

/** The single-pass shuffle-reuse limiter must be observationally identical
  * to the two-pass declarative formulation (RateLimit.apply) — same
  * surviving rows, same final sinks — while touching the fact table once. */
class SinglePassSpec extends SparkSpec {
  import spark.implicits._

  private def t(hour: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $hour%02d:00:00")

  private def mk(hour: Int, n: Int, textLen: Int, sink: String): Seq[RoutedTurn] =
    (0 until n).map(i =>
      RoutedTurn(f"conv-$sink-h$hour%02d-$i%03d", i, "user", "x" * textLen,
        "search", t(hour), sink))

  /** search h0 ok; search h1+h2 breach → fallback; fallback h1 merges with
    * organic rows and stays under its limit; fallback h2 breaches → discard;
    * sink_a untouched throughout. */
  private def fixture: DataFrame =
    (mk(0, 1, 10, "sink_search") ++
      mk(1, 5, 20, "sink_search") ++ // 100 > 50 → fallback
      mk(2, 5, 30, "sink_search") ++ // 150 > 50 → fallback, then 150 > 120 → discard
      mk(1, 2, 10, "sink_fallback") ++ // organic; h1 total 120 ≤ 120 → survives
      mk(0, 3, 10, "sink_a") ++ mk(2, 2, 10, "sink_a")).toDF()

  private val rules = Seq(
    LimitRule("sink_search", 50, 1, "fallback", Some("sink_fallback")),
    LimitRule("sink_fallback", 120, 1, "discard", None))

  private def canon(df: DataFrame): Seq[String] =
    df.select("conv_id", "turn_idx", "sink", "text")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getInt(1)}|${r.getString(2)}|${r.getString(3)}")
      .sorted.toSeq

  test("single-pass survivors equal the two-pass survivors row-for-row") {
    val (survivedTwoPass, dropped) = RateLimit.apply(fixture, rules)
    val (survivedSinglePass, verdicts) = SinglePassLimit.limitWithCells(fixture, rules)
    assert(canon(survivedSinglePass) === canon(survivedTwoPass))
    // the fixture exercised both actions
    assert(dropped.count() === 5L)
    assert(survivedSinglePass.filter(col("sink") === "sink_fallback").count() === 7L)
    // the verdict cells (filled by the first action above) account for
    // exactly the rows the two-pass path drops
    assert(verdicts.cells.filter(_.curSink == null).map(_.rows).sum === 5L)
  }

  /** [[fixture]] plus null-text rows: a mixed cell (sink_search h0), a
    * null row rerouted with its breached bucket (sink_search h1 → fallback),
    * and a cell whose every text is null (sink_a h3). A null counts as 0
    * bytes on both paths. */
  private def withNullText: DataFrame =
    fixture.unionByName((
      mk(0, 1, 0, "sink_search").map(_.copy(conv_id = "conv-null-h00", text = null)) ++
        mk(1, 1, 0, "sink_search").map(_.copy(conv_id = "conv-null-h01", text = null)) ++
        mk(3, 2, 0, "sink_a").map(r => r.copy(conv_id = s"conv-null-h03-${r.turn_idx}",
          text = null))).toDF())

  test("shuffle-reuse survivors equal the two-pass survivors row-for-row") {
    Seq(fixture -> 7L, withNullText -> 8L).foreach { case (input, fallbackRows) =>
      val (survivedTwoPass, dropped) = RateLimit.apply(input, rules)
      val survived = SinglePassLimit.limitReusingShuffle(input, rules)
      assert(canon(survived) === canon(survivedTwoPass))
      // both limiter actions were exercised (fallback rows present, discards gone)
      assert(dropped.count() === 5L)
      assert(survived.filter(col("sink") === "sink_fallback").count() === fallbackRows)
    }
  }

  private def withAqe[T](on: Boolean)(f: => T): T =
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> on.toString)(f)

  test("every action over the limiter output agrees with the two-pass limiter, AQE on and off") {
    // the two ways the operators around the exchange can silently apply no
    // verdicts: an operator that does not declare the columns it reads loses
    // `ts` to column pruning (a count reads no column), and with AQE off a
    // codegen'd Project sits between ApplyVerdicts and the shuffle it must
    // wait for
    def rowKeys(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(r => s"${r.getAs[String]("conv_id")}|${r.getAs[Int]("turn_idx")}|" +
        s"${r.getAs[String]("sink")}|${r.getAs[String]("text")}").sorted.toSeq
    def sinkCounts(df: DataFrame): Map[String, Long] =
      df.groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (aqe <- Seq(true, false); (input, fallbackRows) <- Seq(fixture -> 7L, withNullText -> 8L))
      withAqe(aqe) {
        val (twoPass, _) = RateLimit.apply(input, rules)
        val (survived, verdicts) = SinglePassLimit.limitWithCells(input, rules)
        val want = canon(twoPass)
        assert(rowKeys(survived.collect()) === want, s"first action, aqe=$aqe")
        assert(rowKeys(survived.collect()) === want, s"second action, aqe=$aqe")
        assert(survived.filter(col("sink") === "sink_fallback").count() === fallbackRows,
          s"fallback count, aqe=$aqe")
        assert(sinkCounts(survived) === sinkCounts(twoPass), s"per-sink counts, aqe=$aqe")
        assert(verdicts.cells.filter(_.curSink == null).map(_.rows).sum === 5L, s"aqe=$aqe")
      }
  }

  test("the operators' SQL metrics match the verdict cells after a write") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.limit.{ApplyVerdictsExec, CellTapExec}
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val out = java.nio.file.Files.createTempDirectory("graft-spm").toString + "/out"
    val (survived, verdicts) = SinglePassLimit.limitWithCells(fixture, rules)
    // as the shipped Main runs: AQE coalescing off, so the partition count
    // below is the limiter's own choice
    Session.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      spark.listenerManager.register(listener)
      try {
        survived.write.mode("overwrite").parquet(out)
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
    }
    object Plans extends AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val plan = executed.asScala.toSeq
      .filter(p => Plans.find(p)(_.isInstanceOf[ApplyVerdictsExec]).nonEmpty) match {
      case Seq(p) => p
      case ps => fail(s"${ps.size} limiter writes captured")
    }
    val tap = Plans.collect(plan) { case t: CellTapExec => t }.head
    val apply = Plans.collect(plan) { case a: ApplyVerdictsExec => a }.head
    def metric(p: SparkPlan, name: String): Long = p.metrics(name).value
    val cells = verdicts.cells
    val routedRows = cells.map(_.rows).sum
    assert(routedRows === fixture.count())
    assert(metric(tap, "rows") === routedRows)
    // each map task sums every cell it sees; together they see each at least once
    assert(metric(tap, "cells") >= cells.length)
    assert(metric(apply, "rowsIn") === routedRows)
    val rerouted = cells.filter(c => c.curSink != null && c.curSink != c.origSink).map(_.rows).sum
    val dropped = cells.filter(_.curSink == null).map(_.rows).sum
    assert(rerouted === 5L && dropped === 5L)
    assert(metric(apply, "rerouted") === rerouted)
    assert(metric(apply, "dropped") === dropped)
    // a few KB shuffled over 4 shuffle partitions: one output partition,
    // hence one file
    assert(survived.sparkSession.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(metric(apply, "partitions") === 1L)
    assert(graft.layout.Compact.dataFiles(out).count(_.toString.endsWith(".parquet")) === 1)
  }

  test("the map side fails fast on a null ts and on more cells than the cap") {
    /** The innermost cause of the job failure that carries `msg`. */
    def failsWith(df: DataFrame, msg: String): Throwable = {
      val e = intercept[org.apache.spark.SparkException](df.collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .filter(t => Option(t.getMessage).exists(_.contains(msg))).toSeq
      assert(causes.nonEmpty, e)
      causes.last
    }
    val nullTs = fixture.withColumn("ts",
      when(col("sink") === "sink_a", lit(null).cast("timestamp")).otherwise(col("ts")))
    // every limiter refuses it with the one message: the single-pass and the
    // stateful one in a task, the two-pass one on the driver
    Seq(SinglePassLimit.limitReusingShuffle(nullTs, rules),
      graft.streaming.StatefulLimiter.limitStream(nullTs, rules).toDF()).foreach { df =>
      assert(failsWith(df, "requires non-null ts").isInstanceOf[IllegalArgumentException])
    }
    assert(intercept[IllegalArgumentException](RateLimit.apply(nullTs, rules))
      .getMessage.contains("requires non-null ts"))
    // one map task sees all six cells: the in-task cap trips, not the driver's
    failsWith(SinglePassLimit.limitReusingShuffle(fixture.coalesce(1), rules, maxVerdictCells = 1),
      "cells in one map task")
  }

  test("shuffle-reuse with no breaches returns every row unchanged") {
    val df = (mk(0, 2, 10, "sink_search") ++ mk(1, 3, 10, "sink_a")).toDF()
    val got = SinglePassLimit.limitReusingShuffle(df, rules)
    assert(canon(got) === canon(df))
  }

  /** Traffic on both sides of :30 UTC boundaries, stamped from UTC
    * instants: a limiter that bucketed in the session zone would split
    * each of these epoch hours in two, and neither half breaches alone. */
  private def acrossHalfHours: DataFrame = {
    def at(utc: String, n: Int, textLen: Int, sink: String): Seq[RoutedTurn] =
      (0 until n).map(i => RoutedTurn(s"conv-$sink-$utc-$i", i, "user", "x" * textLen,
        "search", Timestamp.from(java.time.Instant.parse(utc)), sink))
    (at("1969-12-31T23:10:00Z", 2, 20, "sink_search") ++ // epoch hour −1: 80 > 50
      at("1969-12-31T23:50:00Z", 2, 20, "sink_search") ++
      at("1970-01-01T00:20:00Z", 1, 10, "sink_search") ++ // hour 0: 10, kept
      // Asia/Singapore sat at +7:30 until 1982
      at("1975-06-01T00:15:00Z", 2, 20, "sink_search") ++ // hour 47448: 80 > 50
      at("1975-06-01T00:45:00Z", 2, 20, "sink_search") ++
      // July: Australia/Lord_Howe on standard time, +10:30
      at("2024-07-01T00:10:00Z", 2, 20, "sink_search") ++ // hour 477720: 80 > 50
      at("2024-07-01T00:50:00Z", 2, 20, "sink_search") ++
      at("2024-07-01T00:40:00Z", 2, 30, "sink_fallback") ++ // 60 + 80 rerouted > 120
      at("2024-07-01T01:20:00Z", 1, 10, "sink_search") ++ // hour 477721: 10, kept
      at("2024-07-01T02:05:00Z", 3, 20, "sink_search") ++ // hour 477722: 60 > 50
      at("2024-07-01T00:35:00Z", 2, 10, "sink_a")).toDF()
  }

  test("single-pass and two-pass limiters agree in every session zone") {
    // (original sink, epoch hour) → final sink; null = discarded
    val changed = Map[(String, Long), String](
      ("sink_search", -1L) -> "sink_fallback", ("sink_search", 47448L) -> "sink_fallback",
      ("sink_search", 477720L) -> null, ("sink_search", 477722L) -> "sink_fallback",
      ("sink_fallback", 477720L) -> null)
    for (tz <- Seq("Asia/Kolkata", "Australia/Lord_Howe", "Asia/Singapore"))
      Session.withConf(spark, "spark.sql.session.timeZone" -> tz) {
        val input = acrossHalfHours
        val (twoPass, dropped) = RateLimit.apply(input, rules)
        val (survived, verdicts) = SinglePassLimit.limitWithCells(input, rules)
        assert(canon(survived) === canon(twoPass), tz)
        val breached = RateLimit.breachVerdicts(input, rules.head)
          .filter(col("breached")).collect().map(_.getAs[Long]("bucket")).toSet
        assert(breached === Set(-1L, 47448L, 477720L, 477722L), tz)
        val cells = verdicts.cells
        assert(cells.filter(c => c.curSink != c.origSink)
          .map(c => (c.origSink, c.bucketKey) -> c.curSink).toMap === changed, tz)
        // 4 rerouted then discarded + 2 organic fallback rows in hour 477720
        assert(dropped.count() === 6L, tz)
        assert(cells.filter(_.curSink == null).map(_.rows).sum === 6L, tz)
      }
  }
}
