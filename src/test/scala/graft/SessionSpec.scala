package graft

/** The one session module: the suite runs the shipped session settings, and
  * [[Session.withConf]] leaves the session as it found it. */
class SessionSpec extends SparkSpec {

  private val setKey = "spark.sql.autoBroadcastJoinThreshold"
  private val absentKey = "spark.sql.files.maxRecordsPerFile"

  /** A set key with a known value and an absent key, for the block's span. */
  private def withKnownState(body: => Unit): Unit = {
    assert(!spark.conf.getAll.contains(absentKey))
    spark.conf.set(setKey, "1234")
    try body finally spark.conf.unset(setKey)
  }

  test("withConf restores a key that was set and unsets one that was absent") {
    withKnownState {
      val seen = Session.withConf(spark, setKey -> "-1", absentKey -> "7") {
        (spark.conf.get(setKey), spark.conf.get(absentKey))
      }
      assert(seen === ("-1", "7"))
      assert(spark.conf.get(setKey) === "1234")
      assert(!spark.conf.getAll.contains(absentKey))
    }
  }

  test("withConf restores and unsets when the body throws") {
    withKnownState {
      val e = intercept[IllegalStateException] {
        Session.withConf(spark, setKey -> "-1", absentKey -> "7") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage === "boom")
      assert(spark.conf.get(setKey) === "1234")
      assert(!spark.conf.getAll.contains(absentKey))
    }
  }

  test("the test session carries Main's planning settings") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
  }
}
