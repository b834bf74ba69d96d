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
    val (survivedSinglePass, cells, _) = SinglePassLimit.limitWithCells(fixture, rules)
    assert(canon(survivedSinglePass) === canon(survivedTwoPass))
    // the fixture exercised both actions
    assert(dropped.count() === 5L)
    assert(survivedSinglePass.filter(col("sink") === "sink_fallback").count() === 7L)
    // the verdict cells account for exactly the rows the two-pass path drops
    assert(cells.filter(_.curSink == null).map(_.rows).sum === 5L)
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

  test("shuffle-reuse with no breaches returns every row unchanged") {
    val df = (mk(0, 2, 10, "sink_search") ++ mk(1, 3, 10, "sink_a")).toDF()
    val got = SinglePassLimit.limitReusingShuffle(df, rules)
    assert(canon(got) === canon(df))
  }

  test("whole-hour TZ guard: modern whole-hour zones pass, half-hour eras/rules reject") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    def accepts(tz: String): Boolean =
      try {
        spark.conf.set("spark.sql.session.timeZone", tz)
        SinglePassLimit.assertWholeHourTz(spark); true
      } catch { case _: IllegalArgumentException => false }
      finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(accepts("UTC"))
    // pre-1900 LMT transitions (−4:56:02 / +9:18:59) must NOT trip the
    // guard — every geographic zone has one, and no epoch row feels it
    assert(accepts("America/New_York"), "pre-epoch LMT offset wrongly rejected")
    assert(accepts("Asia/Tokyo"))
    assert(!accepts("Asia/Kolkata"), "current +5:30 must reject")
    assert(!accepts("Asia/Singapore"), "historic post-epoch +7:30 (until 1982) must reject")
    assert(!accepts("Australia/Lord_Howe"), "recurring +10:30 standard time must reject")
  }
}
