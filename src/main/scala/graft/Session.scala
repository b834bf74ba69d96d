package graft

import org.apache.spark.sql.SparkSession

import graft.util.Env

/** The one place an entry point builds and scopes its SparkSession. Every
  * main, the bench child and the test suite build through [[local]], so the
  * tests and the oracle dump plan with the settings `Main` ships. */
object Session {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else the JVM's processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shipped session settings, then the caller's `extra` ones. The
    * master is `local[cpus]` unless one is already set, so spark-submit's
    * `--master` wins. Spark's defaults (AQE and its skew-join split on, lz4
    * shuffle codec) are not restated. */
  def local(app: String, cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().appName(app)
      // one wave of tasks per core: measured A/B at reps=3 medians — 1× cores
      // → 0.835 efficiency / 3.46M rows/s, 2× → 0.823 / 3.35M (within noise
      // of each other; one wave avoids the extra per-task constant costs)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // keep AQE skew handling but NOT partition coalescing: small local
      // inputs' pre-amplification shuffles (~2 MB) coalesce to 1 partition
      // and serialize the downstream 64x-amplified work — a small-data
      // artifact that cannot occur at the real 10^12-row scale this job
      // targets. The limiter's read sits after the LAST exchange, where
      // nothing is downstream to serialize; ApplyVerdicts coalesces it
      // itself, by the same coalescePartitions.minPartitionSize rule
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // sink-file codec: zstd. Measured A/B (min over 5 pinned 16-core e2e
      // runs each, BENCH.md): zstd 26.9 s ≤ snappy 27.7 s ≤ lz4 29.6 s ≪
      // uncompressed 40.7 s (bigger writes are memory-bandwidth-bound even
      // on tmpfs), and zstd's files are 1.77× smaller than snappy's on this
      // data — equal-or-better CPU plus the 100 TB storage/IO economics.
      .config("spark.sql.parquet.compression.codec", "zstd")
      // TIMESTAMP columns as 8-byte INT64 micros, not Spark's default INT96
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // managed (bucketed) tables land on scratch, not a spark-warehouse/
      // under the caller's cwd; one directory per entry point
      .config("spark.sql.warehouse.dir", s"${Env.scratchDir}/$app-warehouse")
    if (!sys.props.contains("spark.master")) b.master(s"local[$cpus]")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with each `k -> v` set, then puts every key back as it
    * was — restored if it was set, unset if it was absent — also when
    * `body` throws. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
