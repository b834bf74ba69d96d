package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic transcript table.
  *
  * The sandbox testdata has no transcript parquet, so the canonical input
  * (conv_id, turn_idx, role, text, tool, ts) is DERIVED deterministically from
  * `events.parquet` — every function used here has an exact DuckDB twin (see
  * [[graft.Oracles.turnsCte]]), which is what makes the driver's DuckDB oracle
  * able to recompute the same table.
  *
  * Derivation rules (single source of truth — Oracles.turnsCte mirrors them):
  *   conv_id  = 'conv-' || lpad(user_id, 5, '0')
  *   turn_idx = row_number() over (partition by user_id order by ts, event_id) - 1
  *   role     = click→user, view→assistant, signup→user, purchase→assistant, error→tool
  *   tool     = click→none, view→search, signup→edit, purchase→bash, error→bash
  *   level    = error→ERROR, signup→WARN, else INFO          (embedded in text)
  *   dur_ms   = floor(value * 10)                            (embedded in text)
  *   status   = value >= 50 → ok else err                    (embedded in text)
  *   malformed (event_id % 17 == 0): text = '?raw? ' || props  — exercises the
  *     parse-quarantine path (reference analog: proto decode failure drop,
  *     broker/worker.go:70-74).
  *   well-formed text = '[LEVEL] tool=T dur=Nms status=S P'
  */
object Transcripts {

  private def mapCase(c: org.apache.spark.sql.Column, pairs: (String, String)*): org.apache.spark.sql.Column =
    pairs.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(c === lit(k), lit(v)).otherwise(acc)
    }

  /** Declared, never inferred: `ts` read as TIMESTAMP keeps the stored epoch
    * micros and gives `ts` [[Turn]]'s type on every path. */
  private val EventsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** events.parquet → transcript table with exactly the input_hint schema. */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.schema(EventsSchema).parquet(s"$sfDir/events.parquet")
    val byConv = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

    val role = mapCase(col("event_type"),
      "click" -> "user", "view" -> "assistant", "signup" -> "user",
      "purchase" -> "assistant", "error" -> "tool")
    val tool = mapCase(col("event_type"),
      "click" -> "none", "view" -> "search", "signup" -> "edit",
      "purchase" -> "bash", "error" -> "bash")
    val level = when(col("event_type") === "error", "ERROR")
      .when(col("event_type") === "signup", "WARN")
      .otherwise("INFO")
    val durMs = floor(col("value") * 10).cast("long")
    val status = when(col("value") >= 50, "ok").otherwise("err")
    val malformed = col("event_id") % 17 === 0

    val text = when(malformed, concat(lit("?raw? "), col("props")))
      .otherwise(concat(
        lit("["), level, lit("] tool="), tool,
        lit(" dur="), durMs.cast("string"), lit("ms status="), status,
        lit(" "), col("props")))

    ev.select(
      concat(lit("conv-"), lpad(col("user_id").cast("string"), 5, "0")).as("conv_id"),
      (row_number().over(byConv) - 1).cast("int").as("turn_idx"),
      role.as("role"),
      text.as("text"),
      tool.as("tool"),
      col("ts").as("ts")
    )
  }

  /** Deterministic scale amplification for benchmarking: each replica is a
    * distinct conversation universe (`conv_id#rep`), preserving per-conv turn
    * structure, skew shape and routing mix while multiplying volume. */
  def amplified(spark: SparkSession, sfDir: String, mult: Int): DataFrame = {
    val t = fromEvents(spark, sfDir)
    if (mult <= 1) t
    else t
      .crossJoin(spark.range(mult).select(col("id").as("_rep")))
      .withColumn("conv_id", concat(col("conv_id"), lit("#"), col("_rep")))
      .drop("_rep")
  }

  /** In-memory seeded generator for unit tests — no testdata dependency.
    * Deterministic: LCG on (conv, turn); includes a hot conversation owning
    * ~hotShare of all rows (skew fixture, SURVEY.md §7 step 7). */
  def synthetic(
      spark: SparkSession,
      nConvs: Int,
      turnsPerConv: Int,
      hotConvExtraTurns: Int = 0
  ): DataFrame = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val roles = Array("user", "assistant", "tool")
    val tools = Array("bash", "search", "edit", "none", "web")
    val levels = Array("INFO", "WARN", "ERROR")
    def mk(c: Int, t: Int): Turn = {
      val h = (c.toLong * 2654435761L + t.toLong * 40503L) & 0x7fffffffL
      val role = roles((h % 3).toInt)
      val tool = tools(((h >> 3) % 5).toInt)
      val level = levels(((h >> 6) % 3).toInt)
      val dur = (h % 1000).toInt
      val status = if ((h >> 9) % 4 == 0) "err" else "ok"
      val malformed = h % 17 == 0
      val text =
        if (malformed) s"?raw? garbled-$h"
        else s"[$level] tool=$tool dur=${dur}ms status=$status payload-$h"
      Turn(f"conv-$c%05d", t, role, text, tool,
        new java.sql.Timestamp(base.getTime + c.toLong * 60000L + t.toLong * 1000L))
    }
    val rows =
      (0 until nConvs).flatMap(c => (0 until turnsPerConv).map(t => mk(c, t))) ++
        (turnsPerConv until turnsPerConv + hotConvExtraTurns).map(t => mk(0, t))
    spark.createDataset(rows).toDF()
  }
}
