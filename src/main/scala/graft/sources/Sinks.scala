package graft.sources

import org.apache.spark.sql.DataFrame

/** Pluggable sinks — the Spark translation of the reference's target registry
  * (reference cmd/run.go:66-89):
  *  - K1 blackhole (target/blackhole/server.go): the `noop` format — full
  *    execution, discarded output; used by Bench for timing.
  *  - K2 stdout (target/stdout/server.go): console show.
  *  - K3 logz.io-style table (target/logzio/server.go): the per-sink parquet
  *    that [[graft.pipeline.Pipeline.run]] stages, promotes and commits
  *    through [[graft.manifest.Manifest.promoteAndCommit]].
  */
object Sinks {

  /** K1: execute and discard (counts still observable via observe()). */
  def blackhole(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** K2: print to stdout (driver) — debugging only, never at scale. */
  def stdout(df: DataFrame, limit: Int = 20): Unit =
    df.show(limit, truncate = false)
}
