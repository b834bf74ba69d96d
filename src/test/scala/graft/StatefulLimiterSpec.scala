package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.limit.LimitRule
import graft.model.RoutedTurn
import graft.streaming.{StatefulLimiter, StreamingPipeline}

/** Online (row-at-a-time) limiter semantics over a stream — the feedback-loop
  * behavior the reference's limiter has (broker/broker_test.go:47-123: with a
  * tight limit, BOTH primary and fallback sinks receive logs). */
class StatefulLimiterSpec extends SparkSpec {
  import spark.implicits._

  private def t(hour: Int, minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("mid-bucket overflow: early rows pass, later rows fall back, both sinks non-empty") {
    // 6 rows x 40 bytes in one hour; limit 100 bytes/bucket (avg over 1):
    // rows 1-2 fit (80), row 3 projects 120 > 100 -> fallback; fallback takes
    // the rest until ITS 150-byte budget fills (3 rows = 120), then discard.
    val rows = (0 until 6).map(i =>
      RoutedTurn(f"c$i%02d", i, "user", "x" * 40, "search", t(10, i), "sink_search"))
    val dir = Files.createTempDirectory("graft-slim").toString
    rows.toDF().write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(rows.toDF().schema)
      .parquet(dir)
    val limited = StatefulLimiter.limitStream(stream, Seq(
      LimitRule("sink_search", 100, 1, "fallback", Some("sink_fallback")),
      LimitRule("sink_fallback", 150, 1, "discard", None)))
    val q = limited.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("slim_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.table("slim_out").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[String]("sink"), r.getAs[Boolean]("dropped")))
      .sortBy(_._1)
    val bySink = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySink.getOrElse("sink_search", 0) === 2, s"got $out")
    assert(bySink.getOrElse("sink_fallback", 0) === 4, s"got $out")
    // fallback holds 3 admitted (120 <= 150 until 4th projects 160>150 -> discard)
    val droppedRows = out.filter(_._3)
    assert(droppedRows.length === 1 && droppedRows(0)._2 === "sink_fallback", s"got $out")
    // online ordering: the first two rows by ts stayed on the primary
    assert(out.take(2).forall(_._2 == "sink_search"), s"got $out")
  }

  test("per-trigger group buffer is bounded: oversized trigger fails actionably") {
    // 8 rows for one sink against a 4-row cap — the query must FAIL (with the
    // remediation in the message), not buffer unboundedly toward an OOM
    val rows = (0 until 8).map(i =>
      RoutedTurn(f"c$i%02d", i, "user", "x" * 10, "search", t(12, i), "sink_search"))
    val dir = Files.createTempDirectory("graft-slim3").toString
    rows.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(rows.toDF().schema).parquet(dir)
    val limited = StatefulLimiter.limitStream(stream,
      Seq(LimitRule("sink_search", 1000, 1, "discard", None)),
      maxGroupRowsPerTrigger = 4)
    val q = limited.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("slim3_out").trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("maxFilesPerTrigger")),
      s"expected the trigger-bound remediation, got: ${rootMessages(e)}")
  }

  test("cyclic fallback topology: depth exhaustion drops with a flag, never admits silently") {
    // sink_search ⇄ sink_fallback cycle, both limited to 100 bytes/bucket.
    // Once both budgets fill, further rows ricochet until the depth bound and
    // MUST surface as dropped=true — a silent admission would leak quota.
    val rows = (0 until 8).map(i =>
      RoutedTurn(f"c$i%02d", i, "user", "x" * 40, "search", t(13, i), "sink_search"))
    val dir = Files.createTempDirectory("graft-slim4").toString
    rows.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(rows.toDF().schema).parquet(dir)
    val limited = StatefulLimiter.limitStream(stream, Seq(
      LimitRule("sink_search", 100, 1, "fallback", Some("sink_fallback")),
      LimitRule("sink_fallback", 100, 1, "fallback", Some("sink_search"))))
    val q = limited.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("slim4_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("slim4_out").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[String]("sink"),
        r.getAs[Boolean]("dropped"), r.getAs[String]("text").length))
    // conservation: every input row appears exactly once
    assert(out.length === rows.length)
    assert(out.map(_._1).distinct.length === rows.length)
    // both budgets hold 2×40=80 ≤ 100; the remaining 4 rows must be dropped
    val admitted = out.filterNot(_._3)
    val dropped = out.filter(_._3)
    assert(dropped.length === 4, s"got ${out.toSeq}")
    // no admitted sink exceeds its budget — the silent-admission leak
    admitted.groupBy(_._2).foreach { case (sink, rs) =>
      assert(rs.map(_._4).sum <= 100, s"sink $sink over budget: ${out.toSeq}")
    }
  }

  test("state carries across micro-batches (budget exhausted in batch 1 blocks batch 2)") {
    // two parquet files + maxFilesPerTrigger=1 => two micro-batches in one
    // query; the budget filled by file 1 must block file 2's row
    val dir = Files.createTempDirectory("graft-slim2").toString
    val batch1 = (0 until 2).map(i =>
      RoutedTurn(f"a$i%02d", i, "user", "y" * 50, "search", t(11, i), "sink_search"))
    batch1.toDF().coalesce(1).write.mode("overwrite").parquet(dir)
    Thread.sleep(1100) // distinct mtimes => deterministic file->batch order
    Seq(RoutedTurn("b00", 0, "user", "z" * 50, "search", t(11, 30), "sink_search"))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(batch1.toDF().schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(dir)
    val limited = StatefulLimiter.limitStream(stream, Seq(
      LimitRule("sink_search", 100, 1, "discard", None)))
    val q = limited.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("slim2_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val all = spark.table("slim2_out").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Boolean]("dropped"))).toMap
    assert(all.size === 3, s"got $all")
    assert(all("b00") === true, s"state must persist across batches: $all")
    assert(!all("a00") && !all("a01"), s"got $all")
  }

  test("hours before 1970 round toward minus infinity, as the batch limiters' do") {
    // 23:30Z on 1969-12-31 is epoch hour −1 and 00:30Z on 1970-01-01 is hour
    // 0: each 40-byte row fits the 60-byte bucket alone, both together do not
    val rows = Seq("1969-12-31T23:30:00Z", "1970-01-01T00:30:00Z").zipWithIndex.map {
      case (utc, i) => RoutedTurn(s"e$i", i, "user", "x" * 40, "search",
        java.sql.Timestamp.from(java.time.Instant.parse(utc)), "sink_search")
    }
    val dir = Files.createTempDirectory("graft-slim5").toString
    rows.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(rows.toDF().schema).parquet(dir)
    val limited = StatefulLimiter.limitStream(stream,
      Seq(LimitRule("sink_search", 60, 1, "discard", None)))
    val q = limited.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("slim5_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("slim5_out").collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[Boolean]("dropped")).toMap
    assert(out === Map("e0" -> false, "e1" -> false))
  }

  test("a null text counts 0 bytes, as in the batch limiters") {
    // 0 + 40 bytes fit the 60-byte bucket: both rows are admitted
    val rows = Seq(null, "x" * 40).zipWithIndex.map { case (text, i) =>
      RoutedTurn(s"n$i", i, "user", text, "search", t(14, i), "sink_search")
    }
    val dir = Files.createTempDirectory("graft-slim6").toString
    rows.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(rows.toDF().schema).parquet(dir)
    val limited = StatefulLimiter.limitStream(stream,
      Seq(LimitRule("sink_search", 60, 1, "discard", None)))
    val q = limited.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("slim6_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("slim6_out").collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[Boolean]("dropped")).toMap
    assert(out === Map("n0" -> false, "n1" -> false))
  }
}
