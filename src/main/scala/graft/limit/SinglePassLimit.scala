package graft.limit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.RoutedTurn

/** Single-pass rate limiting: one exchange serves both the verdict and the
  * write.
  *
  * [[RateLimit.apply]] (the declarative formulation, kept as the semantic
  * spec and as the path of the dropped set) touches the fact table twice:
  * one aggregate pass for verdicts, one write pass with the broadcast
  * decision join.
  * Because verdicts have whole-(sink, bucket) granularity, the second pass is
  * avoidable — every row in a bucket shares one fate, so the fate can be
  * applied to the bucket's rows as they leave the one exchange instead of
  * re-deriving it per row ([[limitWithCells]]; SinglePassSpec proves the
  * survivors equal RateLimit.apply's row for row).
  *
  * Both formulations bucket by [[RateLimit.bucket]], the epoch hour, so they
  * agree in every session time zone.
  *
  * Staging by (sink, bucket) and applying verdicts as directory moves does
  * not pay: per-file costs dominate at hour buckets (measurements in
  * DESIGN.md, "Single-pass limiter").
  */
object SinglePassLimit {

  /** [[limitWithCells]]'s surviving rows. */
  def limitReusingShuffle(routed: DataFrame, rules: Seq[LimitRule],
      saltBuckets: Int = 32, maxVerdictCells: Int = 4 << 20): DataFrame =
    limitWithCells(routed, rules, saltBuckets, maxVerdictCells)._1

  /** Single-pass limiting as one lazy query: two planner-injected operators
    * around ONE exchange keyed (sink, bucket, salt).
    *
    *   - [[CellTap]] sits below the exchange and sums each (sink, bucket)
    *     cell's bytes and rows on the MAP SIDE, in the same pass that feeds
    *     the exchange (guide §2.3 "aggregate before you shuffle", as a
    *     task-completion accumulator); every row passes through untouched;
    *   - [[ApplyVerdicts]] sits above it. When it executes it waits for the
    *     exchange's map stage, runs the rule chain once, driver-side, on the
    *     O(cells) totals, fills the returned [[Verdicts]], and drops
    *     discarded buckets and rewrites fallback buckets' sink in flight;
    *   - its read is coalesced to the partition count the shuffled bytes
    *     call for (the rule is at [[ApplyVerdictsExec]]).
    *
    * The frame's one action runs the map stage and then the caller's write:
    * one scan+parse+route, one shuffle write, one shuffle read, one sink
    * write, and no row re-projection — vs the two-pass formulation's two
    * full scan+parse+route passes. Both operators show in EXPLAIN with their
    * SQL metrics (informational; the cells are the exact numbers).
    *
    * Exactly-once sums under retries/speculation: the accumulator is keyed
    * by MAP PARTITION ID and merged by slot REPLACEMENT, not addition — a
    * re-run or speculative duplicate of a partition overwrites its own slot,
    * so no double counting; Spark additionally drops accumulator updates
    * from failed task attempts. PRECONDITION: each map partition's row
    * multiset is deterministic (a re-run sees the same rows), and the sums
    * do not depend on row order (they are additions) — so a replacing slot
    * carries exactly the content it replaces, and every action over the
    * frame recomputes identical cells. A nondeterministic `routed` (e.g.
    * sampling without a seed, or a source whose partitions change between
    * attempts) breaks the precondition.
    *
    * Returns (surviving rows, verdicts). The verdicts' cells carry each
    * (original sink, bucket)'s bytes and rows, with the chain's final sink —
    * the per-sink in/out/dropped volumes observed DURING the run with zero
    * extra passes — and are readable once an action over the rows ran.
    *
    * Contract: `routed` carries the standard columns with non-null `ts`
    * (the routed stream always does — `ts` comes from the source envelope);
    * a null ts fails fast in the map task with [[RateLimit.NullTs]], as in
    * every limiter, rather than silently misbucketing into epoch 0. A null
    * `text` counts as 0 bytes, as `octet_length` sums do. The two-pass
    * RateLimit.apply remains the path of the dropped set. */
  def limitWithCells(routed: DataFrame, rules: Seq[LimitRule],
      saltBuckets: Int = 32, maxVerdictCells: Int = 4 << 20): (DataFrame, Verdicts) = {
    import org.apache.spark.sql.graftbridge.Bridge

    val spark = routed.sparkSession
    LimiterStrategy.register(spark)
    val projected = routed.select(RoutedTurn.Columns.map(col): _*).queryExecution.analyzed
    def attr(name: String) = projected.output.find(_.name == name).get
    val shuffled = Bridge.ofRows(spark,
        CellTap(attr("sink"), attr("ts"), attr("text"), maxVerdictCells, projected))
      .repartition(col("sink"), RateLimit.bucketCol(col("ts")),
        pmod(hash(col("conv_id"), col("turn_idx")), lit(saltBuckets)))
    val verdicts = new Verdicts
    (Bridge.ofRows(spark, ApplyVerdicts(attr("sink"), attr("ts"), rules, maxVerdictCells,
      verdicts, shuffled.queryExecution.analyzed)), verdicts)
  }

  /** One map partition's verdict sums: (sink, bucket) → (bytes, rows). */
  private[limit] type CellSums = Map[(String, Long), (Long, Long)]

  /** Verdict-sum accumulator behind [[CellTap]]: value is
    * mapPartitionId → ((sink, bucket) → (bytes, rows)). Merge REPLACES
    * per-partition slots instead of adding, which is what makes the sums
    * exactly-once under task retries and speculative duplicates (both
    * re-produce the same slot content, given the deterministic-partition
    * precondition stated at [[limitWithCells]]); Spark already drops updates
    * from failed attempts. [[totals]] adds across partition slots. */
  private[limit] final class CellSumsAccumulator
    extends org.apache.spark.util.AccumulatorV2[(Int, CellSums), Map[Int, CellSums]] {
    private val slots = new java.util.concurrent.ConcurrentHashMap[Int, CellSums]()
    override def isZero: Boolean = slots.isEmpty
    override def copy(): CellSumsAccumulator = {
      val c = new CellSumsAccumulator
      c.slots.putAll(slots)
      c
    }
    override def reset(): Unit = slots.clear()
    override def add(v: (Int, CellSums)): Unit = slots.put(v._1, v._2)
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[(Int, CellSums), Map[Int, CellSums]]): Unit =
      other.value.foreach { case (pid, m) => slots.put(pid, m) }
    override def value: Map[Int, CellSums] = {
      import scala.jdk.CollectionConverters._
      slots.asScala.toMap
    }

    /** The sums added across partition slots. */
    def totals: CellSums =
      value.values.flatten.groupMapReduce(_._1)(_._2) { case ((b1, r1), (b2, r2)) =>
        (b1 + b2, r1 + r2)
      }
  }
}
