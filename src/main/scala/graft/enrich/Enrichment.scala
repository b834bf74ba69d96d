package graft.enrich

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Broadcast lookup enrichment stage.
  *
  * Attaches per-tool metadata from a small dimension table via a broadcast
  * hash join — the reference's analog is the name→connector map lookup
  * (reference broker/connector.go:108-114) plus the per-source YAML config
  * attached at enrich time (reference broker/connector.go:387).
  *
  * Scale: the dimension is O(10) rows; `broadcast()` pins a BroadcastHashJoin
  * so the 10^12-row fact side never shuffles for this join.
  */
object Enrichment {

  /** (tool, team, cost_class, redact). Covers every generated tool except
    * 'web' — the missing key exercises the left-join null path.
    * Mirrored EXACTLY by [[graft.Oracles.toolDimCte]]. */
  val toolDim: Seq[(String, String, String, Boolean)] = Seq(
    ("bash", "infra", "high", false),
    ("search", "retrieval", "medium", false),
    ("edit", "authoring", "low", true),
    ("none", "chat", "low", false)
  )

  /** The dim with `tool` declared as its key (a dedup on one partition: an
    * aggregate, no exchange), so the left join is 1:1 by plan and the
    * optimizer removes it from any plan that reads no dim column. */
  def dim(spark: SparkSession): DataFrame =
    spark.createDataFrame(toolDim.map(Row.fromTuple).asJava,
      StructType.fromDDL("tool STRING, team STRING, cost_class STRING, redact BOOLEAN"))
      .coalesce(1).dropDuplicates("tool")

  /** Left join so unmatched tools survive with null metadata. */
  def enrich(turns: DataFrame, spark: SparkSession): DataFrame =
    turns.join(broadcast(dim(spark)), Seq("tool"), "left")
}
