package graft.limit

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed-average rate limiting with fallback/discard rerouting.
  *
  * Reference semantics (limiter/limiter.go):
  *  - L1 time-bucketed byte counters keyed floor(now/interval)   → tumbling window agg
  *    over [[RateLimit.bucket]], the epoch hour every limiter formulation
  *    shares (no session-timezone dependence)
  *  - L4 sliding-average check: mean of the last `buckets` intervals vs limit
  *                                                                → analytic window frame
  *  - breach dispatch (broker/connector.go:268-313): action=fallback rewrites
  *    the target, action=discard drops the row (counted).
  *
  * Batch divergence (documented, SURVEY.md §7 hard part b): the reference's
  * limiter is an ONLINE feedback loop — each delivery increments the counter
  * that gates the next delivery. A batch job computes breach verdicts from the
  * tumbling aggregates of the FIRST-pass routing, then applies the reroute
  * once per limiter hop (primary → fallback → discard = two passes). Verdict
  * granularity is the whole bucket, not the mid-bucket overflow point.
  *
  * Scale: verdicts are one row per (sink, bucket) — tiny relative to the fact
  * table — so the verdict join back onto routed rows is a broadcast join.
  */
final case class LimitRule(
    sink: String,
    bytesPerBucket: Long,
    avgOverBuckets: Int,
    action: String, // "fallback" | "discard" | "alert"
    fallbackSink: Option[String]
) {
  // checked when the rule is built, not when a breach first dispatches on it
  // after the whole map stage ran (reference F5 validators, config/config.go:51)
  require(Set("fallback", "discard", "alert")(action),
    s"action must be fallback|discard|alert: $action")
  require(action != "fallback" || fallbackSink.nonEmpty,
    s"fallback action on $sink needs a fallback sink")
  require(avgOverBuckets >= 1, s"average_over must be >= 1 bucket: $avgOverBuckets")
  require(bytesPerBucket >= 0, s"negative bytes per bucket: $bytesPerBucket")
  (sink +: fallbackSink.toSeq).foreach(graft.manifest.Records.requireName("sink", _))
}

object RateLimit {

  /** Default limiter chain, mirroring the reference dummy.yaml:26-55:
    * sink_search is average-limited with fallback → sink_fallback;
    * sink_fallback is limited with discard. */
  def defaultRules(searchLimit: Long = 6000L, fallbackLimit: Long = 4000L): Seq[LimitRule] = Seq(
    LimitRule("sink_search", searchLimit, 3, "fallback", Some("sink_fallback")),
    LimitRule("sink_fallback", fallbackLimit, 3, "discard", None)
  )

  private final val MicrosPerHour = 3600L * 1000 * 1000

  /** The limiter's bucket, defined once for every formulation: the epoch
    * hour of a TimestampType value's epoch micros — the reference's
    * floor(now/interval), rounding toward −∞ before 1970. A plain method, so
    * the per-row operator loops inline it. */
  def bucket(epochMicros: Long): Long = Math.floorDiv(epochMicros, MicrosPerHour)

  /** [[bucket]] as a long Column over a TIMESTAMP or TIMESTAMP_NTZ `ts`.
    * unix_timestamp floors the micros to seconds, and floor(s / 3600) of the
    * double quotient is exact for every representable second, so the value
    * equals [[bucket]]'s. */
  def bucketCol(ts: Column): Column = floor(unix_timestamp(ts) / 3600)

  /** Every limiter's refusal of a null `ts`, which has no [[bucket]]. */
  val NullTs: String = "the rate limiter requires non-null ts " +
    "(the routed stream's source envelope always sets it)"

  /** One verdict cell: the byte volume of one (original sink, bucket), with
    * the current/last sink mutated by [[runChain]]. `bucketKey` is the
    * [[bucket]] (epoch hour) on every path. `rows` rides
    * along for the per-sink live counters and commit stats (reference
    * monitoring/stats.go analog); the chain itself only reads `bytes`. */
  final case class Cell(origSink: String, bucketKey: Long,
      var curSink: String, var lastSink: String, bytes: Long, rows: Long = 0L,
      var alerted: Boolean = false)

  /** The reference's limiter chain (limiter.go L1+L4 semantics), run
    * driver-side over the control-plane cells. Per rule: per-bucket volumes
    * of the rule's sink (including bytes rerouted INTO it by earlier rules),
    * sliding mean over the trailing avgOverBuckets non-empty buckets,
    * breach ⇒ fallback rewrite (curSink updated) or discard (curSink=null).
    * Mutates `cells` in place. */
  def runChain(cells: Array[Cell], rules: Seq[LimitRule]): Unit =
    rules.foreach { rule =>
      val mine = cells.filter(c => c.curSink == rule.sink)
      val byBucket = mine.groupBy(_.bucketKey).view.mapValues(_.map(_.bytes).sum)
        .toSeq.sortBy(_._1)
      val breached = scala.collection.mutable.Set[Long]()
      val windowVals = scala.collection.mutable.Queue[Long]()
      byBucket.foreach { case (bucket, bytes) =>
        windowVals.enqueue(bytes)
        if (windowVals.size > rule.avgOverBuckets) windowVals.dequeue()
        val avg = windowVals.sum.toDouble / windowVals.size
        if (avg > rule.bytesPerBucket) breached += bucket
      }
      cells.foreach { c =>
        if (c.curSink == rule.sink && breached.contains(c.bucketKey)) {
          rule.action match {
            case "fallback" =>
              c.curSink = rule.fallbackSink.get
              c.lastSink = c.curSink
            case "discard" =>
              c.curSink = null
            case "alert" =>
              // graft extension: the reference validates Action as oneof
              // fallback|discard (config/config.go:51) and keeps AlertLevel
              // as an orthogonal field with breach alerting TODO'd
              // (broker/connector.go:271); mapping AlertLevel onto an action
              // here, with pass-through matching the reference's default
              // (unmatched-action) breach path — the breach is recorded
              c.alerted = true
          }
        }
      }
    }

  /** L1: tumbling per-(sink, bucket) byte sums. */
  def bucketBytes(routed: DataFrame): DataFrame =
    routed
      .groupBy(col("sink"), bucketCol(col("ts")).as("bucket"))
      .agg(sum(octet_length(col("text"))).as("bucket_bytes"))

  /** L4: sliding average over the trailing `avgOverBuckets` buckets per sink,
    * plus the breach verdict for one rule. */
  def breachVerdicts(routed: DataFrame, rule: LimitRule): DataFrame = {
    val frame = Window
      .partitionBy(col("sink"))
      .orderBy(col("bucket"))
      .rowsBetween(-(rule.avgOverBuckets - 1), Window.currentRow)
    bucketBytes(routed.filter(col("sink") === rule.sink))
      .withColumn("avg_bytes", avg(col("bucket_bytes")).over(frame))
      .withColumn("breached", col("avg_bytes") > rule.bytesPerBucket)
  }

  /** Applies the limiter chain. Because breach verdicts have whole-bucket
    * granularity, every row in one (sink, bucket) shares one fate — so the
    * chain is computed on the tiny (sink, bucket, bytes) aggregate and the
    * fact table is touched exactly twice: one aggregate pass, one broadcast
    * decision join at write time.
    *
    * The aggregate is collected and the rule chain runs driver-side (plain
    * Scala): verdicts are control-plane metadata, bounded by
    * #sinks x #buckets (hours) — a few 100k rows even at 10^12 turns — and
    * keeping them out of the lazy plan stops Catalyst from re-planning the
    * whole routed subtree once per rule (observed: 5 subtree copies / 10
    * parquet scans in the optimized plan of the lazy formulation).
    *
    * Per rule, exactly the reference's semantics (limiter.go L1+L4):
    * per-bucket volumes of the rule's sink (including bytes rerouted INTO it
    * by earlier rules), sliding mean over the trailing avgOverBuckets
    * non-empty buckets, breach => fallback rewrite or discard.
    *
    * `maxVerdictCells` guards the driver-side verdict collect: the
    * aggregate is bounded by #sinks × #buckets, which is control-plane sized
    * ONLY if the bucket granularity is coarse (hours). A misconfigured
    * granularity (e.g. per-second buckets over a year) would otherwise
    * silently collect millions of rows.
    *
    * Returns (surviving routed rows with final `sink`, dropped rows).
    */
  def apply(routed: DataFrame, rules: Seq[LimitRule],
      maxVerdictCells: Int = 4 << 20): (DataFrame, DataFrame) = {
    if (rules.isEmpty) return (routed, routed.limit(0))
    val spark = routed.sparkSession

    // Deliberately NOT persisting the routed set between the verdict pass and
    // the decision join: measured on this box, a DISK_ONLY staging cache
    // halves the low-parallelism time (compute-bound regime) but does not
    // help at high parallelism (block-manager I/O is bandwidth-bound), so
    // recomputing the routed subtree wins at the parallelism the job actually
    // runs at. On a real cluster with per-node storage this trade-off can
    // flip — it's a one-line change.

    // pass 1 (eager): (orig_sink, bucket, bytes)
    // limit(max+1) keeps the guard free: the check runs on the collected
    // length, not via an extra count() pass over the aggregate
    val collected = routed
      .groupBy(col("sink").as("orig_sink"), bucketCol(col("ts")).as("bucket"))
      // a cell whose every text is null sums to null: count it as 0 bytes
      .agg(coalesce(sum(octet_length(col("text"))), lit(0L)).as("bytes"))
      .limit(maxVerdictCells + 1)
      .collect()
    require(collected.length <= maxVerdictCells,
      s"rate-limit verdict aggregate exceeds $maxVerdictCells (sink × bucket) cells — " +
        "bucket granularity is too fine for driver-side verdicts; coarsen bucketCol " +
        "or raise maxVerdictCells")
    require(!collected.exists(_.isNullAt(1)), NullTs)
    val cells = collected
      .map(r => Cell(r.getString(0), r.getLong(1), r.getString(0), r.getString(0), r.getLong(2)))

    runChain(cells, rules)

    val changed = cells.filter(c => c.curSink == null || c.curSink != c.origSink)
    if (changed.isEmpty) return (routed, routed.limit(0))

    import spark.implicits._
    val decisions = spark.createDataset(changed.toSeq.map(c =>
      (c.origSink, c.bucketKey, Option(c.curSink), c.lastSink)))
      .toDF("orig_sink", "d_bucket", "final_sink", "last_sink")

    val joined = routed.join(
      broadcast(decisions),
      routed("sink") === col("orig_sink") && bucketCol(col("ts")) === col("d_bucket"),
      "left")
    val affected = col("orig_sink").isNotNull
    val survived = joined
      .filter(!affected || col("final_sink").isNotNull)
      .withColumn("sink", coalesce(col("final_sink"), col("sink")))
      .drop("orig_sink", "d_bucket", "final_sink", "last_sink")
    val dropped = joined
      .filter(affected && col("final_sink").isNull)
      .withColumn("sink", col("last_sink"))
      .drop("orig_sink", "d_bucket", "final_sink", "last_sink")
    (survived, dropped)
  }
}
