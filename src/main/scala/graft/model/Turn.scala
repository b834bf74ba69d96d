package graft.model

import java.sql.Timestamp

/** A single transcript turn — the engine's input row.
  *
  * Shape fixed by BASELINE.json `input_hint`:
  * (conv_id:string, turn_idx:int32, role:string, text:string, tool:string, ts:timestamp).
  *
  * Reference analog: `SourceMessage{id, message, meta, attributes{timestamp,type}}`
  * (reference message/protobuf.proto:17-27) — `id`↦conv_id, `message`↦text,
  * `attributes.timestamp`↦ts, `attributes.type`↦role/tool.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** A turn stamped with its destination sink, post fan-out.
  * Reference analog: `TargetMessage` (message/protobuf.proto:11-15). */
final case class RoutedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    sink: String
)

object RoutedTurn {
  /** The fields, in order: what the limiters project to and the manifest stages. */
  val Columns: Seq[String] = org.apache.spark.sql.Encoders.product[RoutedTurn].schema.fieldNames.toSeq
}
