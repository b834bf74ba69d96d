package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.limit.{LimitRule, RateLimit}
import graft.model.RoutedTurn

/** Streaming ONLINE rate limiter — the faithful analog of the reference's
  * feedback-loop limiter (limiter/limiter.go: every delivery increments the
  * counter that gates the next), which the batch path can only approximate
  * at bucket granularity (see limit.RateLimit scaladoc).
  *
  * `flatMapGroupsWithState` keyed by sink keeps the reference's exact state
  * shape: a TTL'd map of per-bucket byte counts
  * (limiter/limiter.go:34-57, purge at :71-95). Within a micro-batch, rows
  * are processed in ts order per sink, so mid-bucket overflow points are
  * honored — rows before the breach pass, rows after reroute/drop.
  *
  * Scale: state size = O(avgOverBuckets) longs per sink; per-sink grouping
  * means parallelism = #sinks for this operator (matching the reference's
  * one-connector-per-target design); the heavy stateless stages before it
  * keep full parallelism.
  */
object StatefulLimiter extends Serializable {

  final case class LimitedTurn(
      conv_id: String, turn_idx: Int, role: String, text: String,
      tool: String, ts: java.sql.Timestamp, sink: String, dropped: Boolean)

  /** Limiter state for one routing group: trailing per-(target sink, bucket)
    * byte counts. Keyed by target sink so a group's rerouted rows account
    * against the FALLBACK's budget, not the primary's. (Fallback volume
    * arriving from different source groups is accounted per group — the
    * topology keeps fallback sinks reroute-only, so this matches the
    * reference's one-limiter-per-target behavior for the default config.) */
  final case class SinkState(buckets: Map[String, Map[Long, Long]])

  /** @param maxGroupRowsPerTrigger hard bound on the per-sink rows buffered
    *        for one micro-batch. The within-batch ts sort (determinism across
    *        shuffled arrival order) requires materializing the group, and with
    *        parallelism = #sinks a hot sink's group is otherwise unbounded —
    *        an OOM at production volume. The operator's CONTRACT is that the
    *        source bounds trigger size (maxFilesPerTrigger /
    *        maxOffsetsPerTrigger / rate limits); this guard turns a
    *        misconfigured source into an actionable error instead of an
    *        executor OOM. */
  def limitStream(routed: DataFrame, rules: Seq[LimitRule],
      maxGroupRowsPerTrigger: Int = 4 << 20): Dataset[LimitedTurn] = {
    val spark = routed.sparkSession
    import spark.implicits._
    val ruleBySink = rules.map(r => r.sink -> r).toMap

    routed
      .select(RoutedTurn.Columns.map(col): _*)
      .as[RoutedTurn]
      .groupByKey(_.sink)
      .flatMapGroupsWithState[SinkState, LimitedTurn](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sink: String, rows: Iterator[RoutedTurn], state: GroupState[SinkState]) =>
          var buckets = state.getOption.map(_.buckets)
            .getOrElse(Map.empty[String, Map[Long, Long]])
          val out = scala.collection.mutable.ArrayBuffer[LimitedTurn]()

          def admit(row: RoutedTurn, intoSink: String, depth: Int): Unit = {
            val rule = ruleBySink.get(intoSink)
            // hour boundaries are whole millis, so millis bucket as micros do
            val b = RateLimit.bucket(row.ts.getTime * 1000L)
            // a null text counts 0 bytes, as in both batch limiters
            val bytes = if (row.text == null) 0L else row.text.getBytes("UTF-8").length.toLong
            rule match {
              case None =>
                out += LimitedTurn(row.conv_id, row.turn_idx, row.role, row.text,
                  row.tool, row.ts, intoSink, dropped = false)
              case Some(r) =>
                val mine = buckets.getOrElse(intoSink, Map.empty[Long, Long])
                // account the row against intoSink's bucket counters and emit it
                def accountAndEmit(): Unit = {
                  // TTL purge (reference purgeExpiredKeys): keep the trailing horizon
                  val horizon = b - 2L * r.avgOverBuckets
                  val updated = (mine.updated(b, mine.getOrElse(b, 0L) + bytes))
                    .filter(_._1 >= horizon)
                  buckets = buckets.updated(intoSink, updated)
                  out += LimitedTurn(row.conv_id, row.turn_idx, row.role, row.text,
                    row.tool, row.ts, intoSink, dropped = false)
                }
                // trailing-window mean INCLUDING the incoming bytes — the
                // reference's IsAverageOverLimit(current + stored buckets)
                val window = ((b - r.avgOverBuckets + 1) to b)
                  .map(k => mine.getOrElse(k, 0L))
                val projected = (window.sum + bytes).toDouble / r.avgOverBuckets
                if (projected > r.bytesPerBucket) {
                  r.action match {
                    case "fallback" if depth < 4 =>
                      admit(row, r.fallbackSink.get, depth + 1)
                    case "alert" =>
                      // graft extension mapping the reference's orthogonal
                      // AlertLevel field onto an action (the reference
                      // validates oneof fallback|discard, config/config.go:51,
                      // and TODOs breach alerting at broker/connector.go:271):
                      // rows pass through and are accounted, matching the
                      // reference's default breach path; the breach is
                      // recorded, not re-dispatched
                      accountAndEmit()
                    case _ =>
                      // "discard" — or a fallback chain still breaching at max
                      // depth (a CYCLIC topology): an explicit flagged drop.
                      // Silently admitting here would leak quota invisibly; the
                      // row surfaces as dropped at the sink that refused it.
                      out += LimitedTurn(row.conv_id, row.turn_idx, row.role, row.text,
                        row.tool, row.ts, intoSink, dropped = true)
                  }
                } else accountAndEmit()
            }
          }

          val buf = new scala.collection.mutable.ArrayBuffer[RoutedTurn]()
          rows.foreach { r =>
            if (buf.length >= maxGroupRowsPerTrigger)
              throw new IllegalStateException(
                s"sink '$sink' exceeded $maxGroupRowsPerTrigger rows in one trigger — " +
                  "bound the source trigger size (maxFilesPerTrigger / " +
                  "maxOffsetsPerTrigger) or raise maxGroupRowsPerTrigger")
            require(r.ts != null, RateLimit.NullTs)
            buf += r
          }
          buf.sortInPlaceBy(r => (r.ts.getTime, r.conv_id, r.turn_idx))
            .foreach(r => admit(r, sink, 0))
          state.update(SinkState(buckets))
          out.iterator
      }
  }
}
