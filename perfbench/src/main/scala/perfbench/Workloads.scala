package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.enrich.Enrichment
import graft.limit.{LimitRule, RateLimit, SinglePassLimit}
import graft.manifest.Manifest
import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.route.Router

/** A benchmark workload over the generated inputs in `input`. Job outputs
  * stay under `work`; `perfbench/checks.py` checks each against `spec`
  * once the run ends, so no check runs between timed jobs. */
abstract class Workload(val spark: SparkSession, val input: String, val work: String) {
  /** The timed part of job `i`; returns where its output went. */
  def execute(i: Int): String
  /** What every job's output is checked against. */
  def spec: Map[String, Any]
  /** Per-layer metrics, with `rec` attached. Untraced runs of the same job
    * (`rec.untraced`) are interleaved with the traced ones, so the tracing
    * overhead and the residual compare like with like. */
  def layers(rec: Recorder): Seq[(String, Double)]

  /** Runs job `i`, timed. A failed job yields its error. */
  final def timed(i: Int): Timed = {
    val c0 = Workload.processCpuNs()
    val t0 = System.nanoTime()
    try {
      val out = execute(i)
      Timed(out, (System.nanoTime() - t0) / 1e9, (Workload.processCpuNs() - c0) / 1e9, None)
    } catch { case e: Exception => Timed("", Double.NaN, Double.NaN, Some(s"job failed: $e")) }
  }
}

/** One timed job: where its output went, wall and process CPU seconds. */
final case class Timed(out: String, wallS: Double, cpuS: Double, error: Option[String])

object Workload {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) graft.util.Fs.deleteRecursively(p)
  }

  /** sink → [rows, text bytes] of a routed frame. */
  def perSink(df: DataFrame): Map[String, Seq[Long]] =
    df.groupBy(col("sink"))
      .agg(count(lit(1)), coalesce(sum(octet_length(col("text"))), lit(0L)))
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Module of a call site ("save at Pipeline.scala:12" → "pipeline"), from
    * the package directory that holds the source file. */
  def moduleOf(callSite: String, modules: Map[String, String]): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    modules.getOrElse(file, "other")
  }
}

/** Generated events amplified in flight, then parse → enrich → route/fan-out
  * → the shuffle-reuse limiter → parquet. */
final class FanoutBulk(spark: SparkSession, input: String, work: String,
    rules: Seq[LimitRule], mult: Int) extends Workload(spark, input, work) {
  import Workload._

  private def model = Transcripts.amplified(spark, input, mult)
  private def parsed = Pipeline.parsedProjected(model)
  private def enriched = Enrichment.enrich(parsed, spark)
  private def routed = Router.fanOut(enriched)
  private def limited = SinglePassLimit.limitReusingShuffle(routed, rules)

  /** The two-pass limiter on the same input, per sink, and the number of
    * routed turns; the routed rows are cached meanwhile. */
  lazy val spec: Map[String, Any] = {
    val r = routed.persist()
    try Map("sinks" -> perSink(RateLimit.apply(r, rules)._1), "routed_rows" -> r.count())
    finally r.unpersist()
  }

  def write(out: String): Unit = limited.write.mode("overwrite").parquet(out)

  def execute(i: Int): String = {
    val out = s"$work/out/fanout-$i"
    write(out)
    out
  }

  /** Self time of each layer: the difference between consecutive prefixes
    * of the chain, each materialized to `noop`; CPU, GC, shuffle and spill
    * from the stages each prefix ran. */
  def layers(rec: Recorder): Seq[(String, Double)] = {
    val noop = (df: DataFrame) => df.write.mode("overwrite").format("noop").save()
    val prefixes = Seq[(String, () => Unit)](
      "model" -> (() => noop(model)),
      "parse" -> (() => noop(parsed)),
      "enrich" -> (() => noop(enriched)),
      "route" -> (() => noop(routed)),
      "limit" -> (() => noop(limited)),
      "sink" -> (() => write(s"$work/out/fanout-trace")))
    val reps = 2
    val untracedS = scala.collection.mutable.ArrayBuffer[Double]()
    val runs = (1 to reps).flatMap { _ =>
      untracedS += rec.untraced(write(s"$work/out/fanout-trace"))
      prefixes.map { case (name, f) =>
        val (_, span, jobs) = rec.span(name)(f())
        name -> (span.seconds, jobs.flatMap(_.stages))
      }
    }.groupBy(_._1)
    delete(s"$work/out/fanout-trace")
    val jobS = median(untracedS.toSeq)

    def med(name: String, f: ((Double, Seq[StageRec])) => Double): Double =
      median(runs(name).map(r => f(r._2)))
    val wall = (n: String) => med(n, _._1)
    val cpu = (n: String) => med(n, _._2.map(_.cpuS).sum)
    val names = prefixes.map(_._1)
    val selfs = names.zip(0.0 +: names.init.map(wall)).map { case (n, prev) => n -> (wall(n) - prev) }
    val cpus = names.zip(0.0 +: names.init.map(cpu)).map { case (n, prev) => n -> (cpu(n) - prev) }
    val limitStages = (f: StageRec => Double) => med("limit", _._2.map(f).sum) - med("route", _._2.map(f).sum)
    val reduceSkew = med("limit", { case (_, st) =>
      val reads = st.filter(_.shuffleReadBytes > 0).flatMap(_.taskRecordsRead).map(_.toDouble)
      if (reads.isEmpty || reads.sum == 0) 0.0 else reads.max / (reads.sum / reads.size)
    })

    // counts at the layer boundaries, outside the timed prefixes
    val Seq(turns, ok) = parsed.agg(count(lit(1)), count(col("level"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long].toDouble)
    val routedCount = spec("routed_rows").asInstanceOf[Long].toDouble
    val cells = routed
      .groupBy(col("sink"), expr("unix_micros(cast(ts AS timestamp)) div 3600000000").as("hour"))
      .agg(sum(octet_length(col("text"))), count(lit(1)))
      .collect().map(r => RateLimit.Cell(r.getString(0), r.getLong(1), r.getString(0),
        r.getString(0), r.getLong(2), r.getLong(3)))
    RateLimit.runChain(cells, rules)
    val rerouted = cells.filter(c => c.curSink != null && c.curSink != c.origSink).map(_.rows).sum
    val dropped = cells.filter(_.curSink == null).map(_.rows).sum
    val total = wall("sink")

    selfs.map { case (n, s) => s"$n.self_s" -> s } ++
      cpus.map { case (n, c) => s"$n.cpu_s" -> c } ++ Seq(
      "parse.ok_ratio" -> ok / turns,
      "route.fanout_ratio" -> routedCount / turns,
      "limit.gc_s" -> limitStages(_.gcS),
      "limit.shuffle_write_bytes" -> limitStages(_.shuffleWriteBytes.toDouble),
      "limit.shuffle_read_bytes" -> limitStages(_.shuffleReadBytes.toDouble),
      "limit.spill_bytes" -> limitStages(_.spillBytes.toDouble),
      "limit.reduce_skew" -> reduceSkew,
      "limit.kept_ratio" -> (routedCount - dropped).toDouble / routedCount,
      "limit.rerouted_rows" -> rerouted.toDouble,
      "limit.dropped_rows" -> dropped.toDouble,
      "trace_overhead_ratio" -> (total / jobS - 1.0),
      "layers.residual_s" -> (jobS - selfs.map(_._2).sum),
      "layers.job_s" -> jobS)
  }
}

/** The shipped `Pipeline.run` (staging, verdict, moves, promotion, manifest
  * commit, metrics file) into a fresh output root per job. */
final class PipelineRun(spark: SparkSession, input: String, work: String,
    rules: Seq[LimitRule], modules: Map[String, String]) extends Workload(spark, input, work) {
  import Workload._

  private val cfg = Pipeline.Config(limitRules = rules)

  /** The two-pass limiter over the pipeline's routed rows, per sink. */
  lazy val spec: Map[String, Any] = Map("sinks" -> perSink(RateLimit.apply(
    Router.fanOut(Enrichment.enrich(Pipeline.parsedProjected(
      Transcripts.fromEvents(spark, input)), spark), cfg.routeRules),
    rules)._1))

  def run(root: String, runId: String): Unit =
    Pipeline.run(spark, input, root, runId, cfg).collect()

  def execute(i: Int): String = {
    val root = s"$work/out/pipeline-$i"
    run(root, PipelineRun.RunId)
    root
  }

  /** Spark jobs attributed to modules by their call site; the wall time no
    * job covers is driver-only (moves, promotion, commit). */
  def layers(rec: Recorder): Seq[(String, Double)] = {
    val reps = 2
    val untracedS = scala.collection.mutable.ArrayBuffer[Double]()
    val runs = (1 to reps).map { i =>
      val root = s"$work/out/pipeline-trace-$i"
      delete(root)
      untracedS += rec.untraced(run(root, PipelineRun.RunId))
      delete(root)
      val (_, span, jobs) = rec.span("pipeline.run")(run(root, PipelineRun.RunId))
      val (_, readSpan, _) = rec.span("manifest.entries_read")(
        new Manifest(root).entries(spark).count())
      val (_, sinksSpan, _) = rec.span("manifest.committed_sinks")(
        new Manifest(root).committedSinks())
      delete(root)
      (span, jobs, readSpan.seconds, sinksSpan.seconds)
    }
    def med(f: ((Span, Seq[JobRec], Double, Double)) => Double) = median(runs.map(f))
    def byModule(jobs: Seq[JobRec], module: String) =
      jobs.filter(j => moduleOf(j.callSite, modules) == module)
    val wall = med(_._1.seconds)
    val jobS = median(untracedS.toSeq)
    Seq(
      "pipeline.jobs" -> med(_._2.size.toDouble),
      "pipeline.stages" -> med(_._2.map(_.stages.size).sum.toDouble),
      "pipeline.tasks" -> med(_._2.flatMap(_.stages).map(_.tasks).sum.toDouble),
      "pipeline.job_s" -> jobS,
      "pipeline.spark_jobs_s" -> med(r => Recorder.coveredSeconds(r._2)),
      "pipeline.driver_only_s" -> med(r => r._1.seconds - Recorder.coveredSeconds(r._2)),
      "pipeline.gc_s" -> med(_._2.flatMap(_.stages).map(_.gcS).sum),
      "pipeline.residual_s" -> (jobS - wall),
      "limit.staging_s" -> med(r => Recorder.coveredSeconds(byModule(r._2, "limit"))),
      "limit.staging_tasks" -> med(r =>
        byModule(r._2, "limit").flatMap(_.stages).map(_.tasks).sum.toDouble),
      "manifest.spark_s" -> med(r => Recorder.coveredSeconds(byModule(r._2, "manifest"))),
      "manifest.entries_read_s" -> med(_._3),
      "manifest.committed_sinks_s" -> med(_._4))
  }
}

object PipelineRun {
  val RunId = "bench"
}

/** One pass over read-side leaves of `SparkEntry.queries`. Outputs stay
  * on disk for the DuckDB oracle compare that follows the run. */
final class QueryLeaves(spark: SparkSession, input: String, work: String)
    extends Workload(spark, input, work) {
  private def runQuery(q: String, out: String): Unit =
    SparkEntry.queries(q)(spark, input).write.mode("overwrite").parquet(s"$out/$q")

  def execute(i: Int): String = {
    val out = s"$work/out/pass-$i"
    QueryLeaves.Names.foreach(runQuery(_, out))
    out
  }

  def spec: Map[String, Any] = Map("oracle_sql" -> QueryLeaves.oracle)

  /** Each leaf's time, stages and shuffle bytes, traced one by one. */
  def layers(rec: Recorder): Seq[(String, Double)] = {
    val runs = QueryLeaves.Names.map { q =>
      val (_, span, jobs) = rec.span(q)(runQuery(q, s"$work/out/pass-trace"))
      q -> (span.seconds, jobs.flatMap(_.stages))
    }.toMap
    val secs = (q: String) => runs(q)._1
    val stages = (q: String) => runs(q)._2.size.toDouble
    val shuffle = (q: String) => runs(q)._2.map(_.shuffleWriteBytes).sum.toDouble
    Seq(
      "agg.q_sink_agg_s" -> secs("q_sink_agg"),
      "agg.q_conv_spans_s" -> secs("q_conv_spans"),
      "agg.q_funnel_s" -> secs("q_funnel"),
      "limit.q_limit_final_s" -> secs("q_limit_final"),
      "limit.q_limit_final_stages" -> stages("q_limit_final"),
      "dedup.q_minhash_pairs_s" -> secs("q_minhash_pairs"),
      "dedup.q_minhash_pairs_shuffle_bytes" -> shuffle("q_minhash_pairs"),
      "graph.q_pagerank_s" -> secs("q_pagerank"),
      "graph.q_pagerank_stages" -> stages("q_pagerank"),
      "graph.q_pagerank_shuffle_bytes" -> shuffle("q_pagerank"))
  }
}

object QueryLeaves {
  val Names: Seq[String] = Seq("q_sink_agg", "q_conv_spans", "q_funnel", "q_limit_final",
    "q_minhash_pairs", "q_pagerank")
  /** Queries whose output the DuckDB oracle recomputes. */
  def oracle: Map[String, String] = Names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
}
