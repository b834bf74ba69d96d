package graft.limit

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference,
  GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

import graft.limit.SinglePassLimit.CellSumsAccumulator

/** The post-chain verdict cells of one limiter frame. [[ApplyVerdictsExec]]
  * fills the handle when an action over the frame runs, so [[cells]] is
  * readable after the frame's first action; every later action refills it
  * with identical cells (see the determinism precondition at [[CellTap]]).
  * Serializable because Spark may ship plan nodes to tasks; the cells
  * themselves stay on the driver. */
final class Verdicts extends Serializable {
  @transient @volatile private var filled: Array[RateLimit.Cell] = _

  private[limit] def fill(cells: Array[RateLimit.Cell]): Unit = filled = cells

  def cells: Array[RateLimit.Cell] = {
    require(filled != null,
      "the limiter's verdicts are computed by the frame's first action; run one first")
    filled
  }

  override def toString: String = "Verdicts"
}

/** Below the limiter's (sink, bucket, salt) exchange: sums each
  * (sink, bucket) cell's text bytes and rows on the map side while every
  * row passes through untouched. The bucket is [[RateLimit.bucket]], the
  * epoch hour of `ts`, whatever the session time zone. `sink`, `ts` and
  * `text` are constructor expressions, so they are this node's references
  * and column pruning keeps them below it even when no consumer above
  * reads them.
  *
  * PRECONDITION (exactly-once sums): each map partition's row multiset is
  * deterministic and the sums ignore row order. The sums land in
  * per-map-partition accumulator slots merged by replacement, so a retried
  * or speculative attempt overwrites its own slot with the same content,
  * and every action over the frame recomputes identical cells. */
final case class CellTap(sink: Attribute, ts: Attribute, text: Attribute,
    maxCells: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): CellTap =
    copy(child = newChild)
}

/** Above the limiter's exchange: runs the rule chain once on the map-side
  * cell sums, fills `verdicts`, and drops or rewrites breached buckets in
  * flight. Declares `sink` and `ts` as its references for the same reason as
  * [[CellTap]]; the same determinism precondition applies. */
final case class ApplyVerdicts(sink: Attribute, ts: Attribute, rules: Seq[LimitRule],
    maxCells: Int, verdicts: Verdicts, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): ApplyVerdicts =
    copy(child = newChild)
}

/** Plans [[CellTap]] and [[ApplyVerdicts]]; registered once per session. */
object LimiterStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CellTap(sink, ts, text, maxCells, child) =>
      CellTapExec(sink, ts, text, maxCells, new CellSumsAccumulator, planLater(child)) :: Nil
    case ApplyVerdicts(sink, ts, rules, maxCells, verdicts, child) =>
      ApplyVerdictsExec(sink, ts, rules, maxCells, verdicts, planLater(child)) :: Nil
    case _ => Nil
  }

  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this)) exp.extraStrategies = exp.extraStrategies :+ this
    }
  }
}

/** Physical [[CellTap]]. The accumulator is created per planning, so every
  * query over the frame sums into fresh slots. */
final case class CellTapExec(sink: Attribute, ts: Attribute, text: Attribute,
    maxCells: Int, acc: CellSumsAccumulator, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override protected def stringArgs: Iterator[Any] = Iterator(sink, ts, text, maxCells)

  // informational: task retries count twice here, never in the accumulator
  override lazy val metrics = Map(
    "rows" -> SQLMetrics.createMetric(sparkContext, "rows"),
    "cells" -> SQLMetrics.createMetric(sparkContext, "cells, summed over map tasks"))

  override protected def withNewChildInternal(newChild: SparkPlan): CellTapExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    acc.synchronized {
      if (!acc.isRegistered) sparkContext.register(acc, "graft_limit_cell_sums")
    }
    val sums = acc
    val maxCells = this.maxCells
    val iTs = child.output.indexWhere(_.exprId == ts.exprId)
    val iText = child.output.indexWhere(_.exprId == text.exprId)
    val iSink = child.output.indexWhere(_.exprId == sink.exprId)
    val rowsMetric = longMetric("rows")
    val cellsMetric = longMetric("cells")

    // The cell cap is enforced INSIDE the task (a misconfigured bucket
    // granularity must fail in the executor while its map is still small,
    // not OOM the driver); pre-shuffle partitions are unclustered, so EACH
    // task's map is bounded by the TOTAL distinct-cell count, and worst-case
    // executor memory is cells × concurrent tasks. That is why the cap must
    // stay control-plane-sized (sinks × coarse buckets, ≤ a few thousand
    // cells ≈ tens of KB per task at the default), far below the 4M-cell
    // hard stop.
    child.execute().mapPartitionsWithIndex { (pid, it) =>
      // per-row cost discipline (this closure runs 10^12 times at the design
      // point, riding the hot map stage): sinks are interned once per
      // partition (few distinct values), buckets key a per-sink
      // primitive-keyed map, and a one-entry memo catches consecutive
      // same-(sink, bucket) rows — the common case, since the pre-shuffle
      // stream is in (conv, turn) order and hour buckets change far slower
      // than rows. A slot is [bytes, rows].
      val sinks = new SinkTable[mutable.LongMap[Array[Long]]](_ => mutable.LongMap.empty)
      var nCells = 0
      var prevBuckets: mutable.LongMap[Array[Long]] = null
      var prevBucket = Long.MinValue
      var prevSlot: Array[Long] = null
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        cellsMetric += nCells
        if (nCells > 0)
          sums.add(pid -> sinks.entries.flatMap { case (name, buckets) =>
            buckets.iterator.map { case (bucket, slot) => (name, bucket) -> ((slot(0), slot(1))) }
          }.toMap)
      }
      it.map { row =>
        if (row.isNullAt(iTs))
          throw new IllegalArgumentException(RateLimit.NullTs)
        rowsMetric += 1
        val bucket = RateLimit.bucket(row.getLong(iTs))
        val buckets = sinks(row.getUTF8String(iSink))
        if (!(buckets eq prevBuckets) || bucket != prevBucket) {
          var slot = buckets.getOrNull(bucket)
          if (slot == null) {
            if (nCells >= maxCells)
              throw new IllegalStateException(
                s"rate-limit verdict aggregate exceeds $maxCells (sink × bucket) " +
                  "cells in one map task (pre-shuffle, so a task can see every " +
                  "cell) — bucket granularity is too fine for driver-side verdicts")
            slot = Array(0L, 0L)
            buckets(bucket) = slot
            nCells += 1
          }
          prevBuckets = buckets
          prevBucket = bucket
          prevSlot = slot
        }
        prevSlot(0) += (if (row.isNullAt(iText)) 0 else row.getUTF8String(iText).numBytes)
        prevSlot(1) += 1
        row
      }
    }
  }
}

/** One partition's distinct sinks, each interned once — copied out of the
  * reused row buffer — with a value made for it. A one-entry memo answers
  * consecutive same-sink rows with one byte compare. */
private[limit] final class SinkTable[T <: AnyRef](make: String => T) {
  private val ids = new java.util.HashMap[UTF8String, Integer]()
  private val keys = mutable.ArrayBuffer.empty[UTF8String]
  private val values = mutable.ArrayBuffer.empty[T]
  private var prevKey: UTF8String = _ // interned, never the row buffer
  private var prevValue: T = _

  /** The value of `sink`, a view into the current row. */
  def apply(sink: UTF8String): T = {
    if (prevKey == null || !sink.equals(prevKey)) {
      var id = ids.get(sink)
      if (id == null) {
        id = Integer.valueOf(keys.size)
        val key = sink.copy()
        ids.put(key, id)
        keys += key
        values += make(key.toString)
      }
      prevKey = keys(id)
      prevValue = values(id)
    }
    prevValue
  }

  def entries: Iterator[(String, T)] = keys.iterator.map(_.toString).zip(values.iterator)
}

/** Physical [[ApplyVerdicts]].
  *
  * Await rule: the verdicts need the whole map stage's sums, so execution
  * first waits for the first shuffle dependency in the input lineage — not
  * only direct dependencies: with AQE off a codegen'd Project can sit
  * between this operator and the exchange. A map stage that already
  * materialized (AQE runs it as its own query stage) is not resubmitted.
  *
  * Partition-count rule: the read is coalesced to
  * clamp(ceil(map-output bytes / coalescePartitions.minPartitionSize), 1,
  * input partitions) — AQE's parallelism-first rule, applied after the last
  * exchange, where it cannot serialize upstream work. Small shuffles write
  * one file per sink; large ones keep every partition.
  *
  * Rewriting `sink` breaks the exchange's hash partitioning, so the output
  * reports UnknownPartitioning. */
final case class ApplyVerdictsExec(sink: Attribute, ts: Attribute, rules: Seq[LimitRule],
    maxCells: Int, verdicts: Verdicts, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)
  override protected def stringArgs: Iterator[Any] = Iterator(sink, ts, rules.map(_.sink))

  // informational: commit stats come from the verdict cells, not from these
  override lazy val metrics = Map(
    "rowsIn" -> SQLMetrics.createMetric(sparkContext, "rows in"),
    "rerouted" -> SQLMetrics.createMetric(sparkContext, "rerouted rows"),
    "dropped" -> SQLMetrics.createMetric(sparkContext, "dropped rows"),
    "partitions" -> SQLMetrics.createMetric(sparkContext, "output partitions"))

  override protected def withNewChildInternal(newChild: SparkPlan): ApplyVerdictsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    val dep = ApplyVerdictsExec.firstShuffle(input).getOrElse(throw new IllegalStateException(
      "ApplyVerdicts must sit above the limiter's exchange"))
    val shuffledBytes = Bridge.mapOutputBytes(sparkContext, dep)
    val acc = ApplyVerdictsExec.tapBelow(child).getOrElse(throw new IllegalStateException(
      "ApplyVerdicts found no CellTap below its exchange")).acc
    val totals = acc.totals
    require(totals.size <= maxCells,
      s"rate-limit verdict aggregate exceeds $maxCells (sink × bucket) cells — " +
        "bucket granularity is too fine for driver-side verdicts")
    val cells = totals.iterator.map { case ((s, bucket), (bytes, rows)) =>
      RateLimit.Cell(s, bucket, s, s, bytes, rows)
    }.toArray
    RateLimit.runChain(cells, rules)
    verdicts.fill(cells)

    val minBytes = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val nOut = math.max(1L, math.min(input.getNumPartitions.toLong,
      (shuffledBytes + minBytes - 1) / minBytes)).toInt
    longMetric("partitions").set(nOut.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("partitions")))

    // changed cells only, grouped by original sink: bucket → final sink
    // (null = discard)
    val decisions: Array[(String, Array[Long], Array[String])] = cells
      .filter(c => c.curSink == null || c.curSink != c.origSink)
      .groupBy(_.origSink).toArray
      .map { case (s, cs) => (s, cs.map(_.bucketKey), cs.map(_.curSink)) }
    val coalesced = if (nOut < input.getNumPartitions) input.coalesce(nOut) else input
    val iSink = child.output.indexWhere(_.exprId == sink.exprId)
    val iTs = child.output.indexWhere(_.exprId == ts.exprId)
    // a rewritten row is the input row with `sink` taken from a one-field
    // side row: ordinal n of the JoinedRow
    val rewrite = child.output.zipWithIndex.map { case (a, i) =>
      if (i == iSink) BoundReference(child.output.length, StringType, nullable = false)
      else BoundReference(i, a.dataType, a.nullable)
    }
    val rowsIn = longMetric("rowsIn")
    val rerouted = longMetric("rerouted")
    val dropped = longMetric("dropped")
    coalesced.mapPartitions(it => new ApplyVerdictsExec.Applied(it, decisions, iSink, iTs,
      rewrite, rowsIn, rerouted, dropped))
  }
}

object ApplyVerdictsExec {
  /** A changed bucket's final sink; null = discard. */
  private final class Target(val sink: UTF8String)

  /** One partition's rows with the verdicts applied: untouched buckets pass
    * through zero-copy, discarded ones are skipped, and rerouted rows come
    * out of one reused UnsafeProjection. Sinks are interned once per
    * partition, as on the map side, and each sink's changed buckets sit in a
    * primitive-keyed map — no per-row tuple or boxed key. */
  private final class Applied(it: Iterator[InternalRow],
      decisions: Array[(String, Array[Long], Array[String])], iSink: Int, iTs: Int,
      rewrite: Seq[BoundReference], rowsIn: SQLMetric, rerouted: SQLMetric,
      dropped: SQLMetric) extends Iterator[InternalRow] {
    private val byName: Map[String, mutable.LongMap[Target]] =
      decisions.map { case (s, buckets, targets) =>
        val m = mutable.LongMap.empty[Target]
        buckets.indices.foreach(i =>
          m(buckets(i)) = new Target(Option(targets(i)).map(UTF8String.fromString).orNull))
        s -> m
      }.toMap
    // null for a sink with no changed bucket
    private val sinks = new SinkTable[mutable.LongMap[Target]](byName.getOrElse(_, null))
    private val project = UnsafeProjection.create(rewrite)
    private val side = new GenericInternalRow(1)
    private val joined = new JoinedRow
    private var pending: InternalRow = _ // null: discarded or not read yet

    /** The row to emit for `row`, or null when its bucket is discarded. */
    private def decide(row: InternalRow): InternalRow = {
      rowsIn += 1
      val buckets = sinks(row.getUTF8String(iSink))
      val target =
        if (buckets == null) null
        else buckets.getOrNull(RateLimit.bucket(row.getLong(iTs)))
      if (target == null) row
      else if (target.sink == null) { dropped += 1; null }
      else {
        rerouted += 1
        side.update(0, target.sink)
        project(joined(row, side))
      }
    }

    def hasNext: Boolean = {
      while (pending == null && it.hasNext) pending = decide(it.next())
      pending != null
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
  }

  /** The nearest shuffle dependency in `rdd`'s lineage (breadth-first). */
  private def firstShuffle(rdd: RDD[_]): Option[ShuffleDependency[_, _, _]] = {
    var level: Seq[RDD[_]] = Seq(rdd)
    while (level.nonEmpty) {
      val deps = level.flatMap(_.dependencies)
      deps.collectFirst { case s: ShuffleDependency[_, _, _] => s } match {
        case found @ Some(_) => return found
        case None => level = deps.map(_.rdd)
      }
    }
    None
  }

  /** The [[CellTapExec]] feeding this operator's exchange, through AQE
    * query stages and reused exchanges. */
  private def tapBelow(plan: SparkPlan): Option[CellTapExec] = plan match {
    case t: CellTapExec => Some(t)
    case s: QueryStageExec => tapBelow(s.plan)
    case r: ReusedExchangeExec => tapBelow(r.child)
    case p => p.children.iterator.map(tapBelow).collectFirst { case Some(t) => t }
  }
}
