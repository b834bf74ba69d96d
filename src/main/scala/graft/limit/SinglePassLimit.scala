package graft.limit

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Single-pass rate limiting: one exchange serves both the verdict and the
  * write.
  *
  * [[RateLimit.apply]] (the declarative formulation, kept as the semantic
  * spec and DuckDB-oracle path) touches the fact table twice: one aggregate
  * pass for verdicts, one write pass with the broadcast decision join.
  * Because verdicts have whole-(sink, bucket) granularity, the second pass is
  * avoidable — every row in a bucket shares one fate, so the fate can be
  * applied to the bucket's SHUFFLE BLOCKS instead of re-deriving it per row
  * ([[limitWithCells]]; SinglePassSpec proves the survivors equal
  * RateLimit.apply's row for row).
  *
  * Staging by (sink, bucket) and applying verdicts as directory moves does
  * not pay: per-file costs dominate at hour buckets (measurements in
  * DESIGN.md, "Single-pass limiter").
  */
object SinglePassLimit {

  /** Epoch-hour bucket — the same boundaries as RateLimit.bucketCol
    * (date_trunc 'hour' in the UTC session). Matches date_trunc ONLY when the
    * session timezone sits on a whole-hour UTC offset (enforced by
    * [[assertWholeHourTz]] at the single-pass entry point): under e.g.
    * Asia/Kolkata (+5:30) date_trunc boundaries fall on :30 UTC and the two
    * limiter formulations would disagree on bucket membership. */
  def bucketKey(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(unix_timestamp(ts) / 3600).cast("long")

  /** The single-pass path buckets on epoch hours (UTC by construction); the
    * two-pass semantic spec buckets on date_trunc('hour') in the SESSION
    * timezone. They agree iff the session offset is a whole number of hours —
    * anything else must use the two-pass path. */
  private[graft] def assertWholeHourTz(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val rules = java.time.ZoneId.of(tz).getRules
    // EVERY offset the zone's rules can produce must be whole-hour — not
    // just the offset at this instant: a DST-varying zone like
    // Australia/Lord_Howe (+10:30 standard, +11:00 DST) would pass a
    // now()-only check half the year and still misbucket standard-time rows
    import scala.jdk.CollectionConverters._
    // ... and the HISTORICAL fixed transitions, not only the recurring
    // rules: a zone with a past non-whole-hour offset and no recurring DST
    // (Asia/Singapore was +7:30 until 1982 — its 1982 transition has
    // offsetBefore +7:30) would otherwise pass the guard while its old-era
    // rows still misbucket. Era-bounded at the epoch: EVERY geographic zone
    // has a pre-1900 LMT transition at a seconds-precision offset
    // (America/New_York −4:56:02, Asia/Tokyo +9:18:59, ...), so scanning
    // all history would reject every named zone. Post-1970 offsets cover
    // any timestamp log data can carry; rows BEFORE 1970 in such a zone
    // would still misbucket — if that ever matters, use RateLimit.apply
    // (the two-pass path has no timezone restriction).
    val epoch = java.time.Instant.EPOCH
    val offsets = rules.getOffset(java.time.Instant.now()) +:
      (rules.getTransitionRules.asScala.toSeq.flatMap(tr =>
        Seq(tr.getOffsetBefore, tr.getOffsetAfter)) ++
        rules.getTransitions.asScala.toSeq
          .filter(_.getInstant.isAfter(epoch))
          .flatMap(t => Seq(t.getOffsetBefore, t.getOffsetAfter)))
    val bad = offsets.find(_.getTotalSeconds % 3600 != 0)
    require(bad.isEmpty,
      s"single-pass rate limiting requires a whole-hour-offset session timezone " +
        s"(got $tz, which can sit at offset ${bad.get}): epoch-hour buckets would " +
        "disagree with the two-pass date_trunc('hour') spec — set " +
        "spark.sql.session.timeZone=UTC or use RateLimit.apply")
  }


  /** [[limitWithCells]]'s surviving rows; the caller's write is the second
    * job. */
  def limitReusingShuffle(routed: DataFrame, rules: Seq[LimitRule],
      saltBuckets: Int = 32, maxVerdictCells: Int = 4 << 20): DataFrame =
    limitWithCells(routed, rules, saltBuckets, maxVerdictCells)._1

  /** Single-pass limiting: the staged shuffle is shared across two jobs at
    * the RDD level.
    *
    *   - ONE shuffle keyed (sink, bucket, salt) is written by the first job
    *     and served to both (Spark skips the map stage of the second job —
    *     the cross-job analog of ReuseExchange, see Bridge.internalRdd);
    *   - the (sink, bucket) byte and row sums are accumulated on the MAP
    *     SIDE, in the same pass that feeds the exchange (guide §2.3
    *     "aggregate before you shuffle", as a task-completion accumulator):
    *     job 1 only forces the shuffle WRITE and consumes zero shuffle rows.
    *     The round-6 form computed the sums in job 1's reduce — a full
    *     decompress+scan of the staged shuffle (~10 % of e2e wall at BOTH
    *     scaling levels, measured: 12.7 s of 117.9 at 2 cores, 3.4 s of
    *     34.0 at 8 — paid once per run for numbers the map side already
    *     had in its hands);
    *   - the rule chain runs driver-side as usual;
    *   - job 2 re-reads the shuffle, drops discarded buckets and rewrites
    *     fallback buckets' sink in-flight (a closure-captured O(cells) map —
    *     the broadcast decision join reduced to its essence), and hands the
    *     surviving rows to the caller's write.
    *
    * Net data movement: one scan+parse+route, one shuffle write, ONE shuffle
    * read, one sink write — vs the two-pass formulation's two full
    * scan+parse+route passes. RDD-level code is justified here because the
    * SQL layer cannot express cross-job exchange reuse (separate actions
    * re-plan the subtree; only same-query subtrees dedupe).
    *
    * Exactly-once sums under retries/speculation: the accumulator is keyed
    * by MAP PARTITION ID and merged by slot REPLACEMENT, not addition — a
    * re-run or speculative duplicate of a partition overwrites its own slot,
    * so no double counting; Spark additionally drops accumulator updates
    * from failed task attempts. PRECONDITION: each map partition's row
    * multiset is deterministic (a re-run sees the same rows), and the sums
    * do not depend on row order (they are additions) — so a replacing slot
    * carries exactly the content it replaces. A nondeterministic `routed`
    * (e.g. sampling without a seed, or a source whose partitions change
    * between attempts) breaks the precondition.
    *
    * Returns (surviving rows, post-chain verdict cells, observed metrics):
    *   - the cells carry each (original sink, bucket)'s bytes and rows, with
    *     the chain's final sink — the per-sink in/out/dropped volumes
    *     observed DURING the run with zero extra passes;
    *   - the observed metrics are `routed`'s `observe(name, …)` counters,
    *     read from the bridged plan once job 1 ran it. An `Observation`
    *     would never complete here: no Dataset action runs over that plan,
    *     only its RDD.
    *
    * Contract: `routed` carries the standard columns with non-null `ts`
    * (the routed stream always does — `ts` comes from the source envelope);
    * a null ts fails fast in the verdict task rather than silently
    * misbucketing into epoch 0. A null `text` counts as 0 bytes, as
    * `octet_length` sums do. The two-pass RateLimit.apply remains the path
    * of record for inputs needing null-bucket semantics or the dropped set. */
  def limitWithCells(routed: DataFrame, rules: Seq[LimitRule],
      saltBuckets: Int = 32, maxVerdictCells: Int = 4 << 20)
      : (DataFrame, Array[RateLimit.Cell], Map[String, Row]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.unsafe.types.UTF8String

    val spark = routed.sparkSession
    assertWholeHourTz(spark)
    val projected = routed
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"), col("sink"))
    val schema = projected.schema
    val iTs = schema.fieldIndex("ts")
    val iText = schema.fieldIndex("text")
    val iSink = schema.fieldIndex("sink")
    val micros = 3600L * 1000 * 1000 // TimestampType is micros; bucket = hour

    // map-side verdict sums: observed while the rows stream TOWARD the
    // exchange. The cell cap is enforced INSIDE the task (a misconfigured
    // bucket granularity must fail in the executor while its map is still
    // small, not OOM the driver); pre-shuffle partitions are unclustered, so
    // EACH task's map is bounded by the TOTAL distinct-cell count — unlike
    // the round-6 post-shuffle form, where a cell lived in exactly one
    // partition, worst-case executor memory here is cells × concurrent
    // tasks. That is the price of skipping the shuffle read, and it is why
    // the cap must stay control-plane-sized (sinks × coarse buckets, ≤ a
    // few thousand cells ≈ tens of KB per task at the default), far below
    // the 4M-cell hard stop.
    val acc = new CellSumsAccumulator
    spark.sparkContext.register(acc, "graft_limit_cell_sums")
    val maxCells = maxVerdictCells
    val preRdd = Bridge.internalRdd(projected).mapPartitionsWithIndex { (pid, it) =>
      // per-row cost discipline (this closure runs 10^12 times at the design
      // point, riding the hot map stage): sinks are interned to small ids
      // once (few distinct values), buckets key a per-sink Long map (one
      // young-gen box on the miss path only), and a one-entry memo catches
      // consecutive same-(sink, bucket) rows — the common case, since the
      // pre-shuffle stream is in (conv, turn) order and hour buckets change
      // far slower than rows — with a single byte-compare. A slot is
      // [bytes, rows].
      val sinkIds = new java.util.HashMap[UTF8String, Integer]()
      var sinkKeys = new Array[UTF8String](8) // sid → interned (copied) sink
      var perSink = new Array[java.util.HashMap[java.lang.Long, Array[Long]]](8)
      var nCells = 0
      var prevSink: UTF8String = null // interned ref, never the row buffer
      var prevBucket = Long.MinValue
      var prevSlot: Array[Long] = null
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        if (!sinkIds.isEmpty) {
          import scala.jdk.CollectionConverters._
          acc.add(pid -> sinkIds.entrySet().iterator().asScala.flatMap { se =>
            val name = se.getKey.toString
            perSink(se.getValue).entrySet().iterator().asScala.map { be =>
              val slot = be.getValue
              (name, be.getKey.longValue()) -> ((slot(0), slot(1)))
            }
          }.toMap)
        }
      }
      it.map { row =>
        if (row.isNullAt(iTs))
          throw new IllegalArgumentException(
            "limitReusingShuffle requires non-null ts (the routed stream's " +
              "source envelope always sets it); rows needing null-bucket " +
              "semantics must use the two-pass RateLimit.apply")
        val bucket = Math.floorDiv(row.getLong(iTs), micros)
        val sinkU = row.getUTF8String(iSink)
        val n = if (row.isNullAt(iText)) 0 else row.getUTF8String(iText).numBytes
        if (prevSlot != null && bucket == prevBucket && sinkU.equals(prevSink)) {
          prevSlot(0) += n
          prevSlot(1) += 1
        } else {
          var sid = sinkIds.get(sinkU)
          if (sid == null) {
            sid = Integer.valueOf(sinkIds.size)
            val interned = sinkU.copy() // copy out of the reused row buffer
            sinkIds.put(interned, sid)
            if (sid >= perSink.length) {
              perSink = java.util.Arrays.copyOf(perSink, perSink.length * 2)
              sinkKeys = java.util.Arrays.copyOf(sinkKeys, sinkKeys.length * 2)
            }
            perSink(sid) = new java.util.HashMap[java.lang.Long, Array[Long]]()
            sinkKeys(sid) = interned
          }
          val buckets = perSink(sid)
          val boxed = java.lang.Long.valueOf(bucket)
          var slot = buckets.get(boxed)
          if (slot == null) {
            if (nCells >= maxCells)
              throw new IllegalStateException(
                s"rate-limit verdict aggregate exceeds $maxCells (sink × bucket) " +
                  "cells in one map task (pre-shuffle, so a task can see every " +
                  "cell) — bucket granularity is too fine for driver-side verdicts")
            slot = Array(0L, 0L)
            buckets.put(boxed, slot)
            nCells += 1
          }
          slot(0) += n
          slot(1) += 1
          prevSink = sinkKeys(sid)
          prevBucket = bucket
          prevSlot = slot
        }
        row
      }
    }
    val stagedDf = Bridge.internalCreateDataFrame(spark, preRdd, schema)
      .repartition(col("sink"), bucketKey(col("ts")),
        pmod(hash(col("conv_id"), col("turn_idx")), lit(saltBuckets)))

    val internal = Bridge.internalRdd(stagedDf)

    // job 1: force the shuffle WRITE (and thereby the map-side sums) without
    // consuming a single shuffle row — the result stage's iterator is never
    // touched, so nothing is fetched/decompressed (shuffle-read cost ≈ 0)
    internal.mapPartitions(_ => Iterator.empty[Int]).count()
    val totals = acc.totals
    require(totals.size <= maxVerdictCells,
      s"rate-limit verdict aggregate exceeds $maxVerdictCells (sink × bucket) cells — " +
        "bucket granularity is too fine for driver-side verdicts")
    val cells = totals.iterator.map { case ((sink, bucket), (bytes, rows)) =>
      RateLimit.Cell(sink, bucket, sink, sink, bytes, rows)
    }.toArray

    RateLimit.runChain(cells, rules)
    val changed = cells.filter(c => c.curSink == null || c.curSink != c.origSink)
    val observed = projected.queryExecution.observedMetrics
    if (changed.isEmpty)
      return (Bridge.internalCreateDataFrame(spark, internal, schema), cells, observed)

    // job 2: rewrite/drop the affected buckets in-flight
    val decisions: Map[(String, Long), Option[String]] =
      changed.map(c => (c.origSink, c.bucketKey) -> Option(c.curSink)).toMap
    val n = schema.length
    val mapped = internal.mapPartitions { it =>
      val dec = decisions.map { case ((s, b), v) =>
        (UTF8String.fromString(s), b) -> v.map(UTF8String.fromString)
      }
      it.flatMap { row =>
        val key = (row.getUTF8String(iSink), Math.floorDiv(row.getLong(iTs), micros))
        dec.get(key) match {
          case None => Iterator.single(row) // untouched bucket: zero-copy pass-through
          case Some(None) => Iterator.empty // discard
          case Some(Some(newSink)) => // fallback: copy out of the reused buffer
            val vals = new Array[Any](n)
            var i = 0
            while (i < n) {
              vals(i) =
                if (row.isNullAt(i)) null
                else if (i == iSink) newSink
                else schema(i).dataType match {
                  case org.apache.spark.sql.types.StringType => row.getUTF8String(i).copy()
                  case org.apache.spark.sql.types.IntegerType => row.getInt(i)
                  case org.apache.spark.sql.types.TimestampType => row.getLong(i)
                  case dt => row.get(i, dt)
                }
              i += 1
            }
            Iterator.single(new GenericInternalRow(vals): InternalRow)
        }
      }
    }
    (Bridge.internalCreateDataFrame(spark, mapped, schema), cells, observed)
  }

  /** One map partition's verdict sums: (sink, bucket) → (bytes, rows). */
  private[limit] type CellSums = Map[(String, Long), (Long, Long)]

  /** Verdict-sum accumulator for [[limitWithCells]]: value is
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
