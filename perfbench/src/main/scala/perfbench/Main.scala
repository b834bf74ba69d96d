package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.limit.RateLimit

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * writes a plan and launches this with the plan's path; this writes
  * `result.json` (and `trace.json` when traced) next to the plan.
  *
  * Untraced, the plan names one path (workload): set-up, repeated;
  * `warmup_jobs` jobs; then jobs until `seconds` of job time are spent.
  * Traced, the plan names every path: per path one warm-up job and the
  * per-layer breakdown. `run.py` checks every job's output afterwards.
  *
  * Usage: perfbench.Main PLAN.json
  */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // the shipped Main's settings, at this benchmark's core count
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Source file name → module (its package directory under graft/). */
  def modules(src: String): Map[String, String] = {
    val root = Paths.get(src)
    val s = Files.walk(root)
    try {
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
        val rel = root.relativize(f)
        f.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
      }.toMap
    } finally s.close()
  }

  private val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper().registerModule(DefaultScalaModule)

  private val started = System.nanoTime()
  /** Progress to the harness log, with seconds since the JVM's main began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  /** A failed job's times are null. */
  private def timedJson(t: Timed): Map[String, Any] = Map("out" -> t.out,
    "wall_s" -> Option(t.wallS).filterNot(_.isNaN), "cpu_s" -> Option(t.cpuS).filterNot(_.isNaN),
    "error" -> t.error)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val work = Paths.get(args(0)).toAbsolutePath.getParent.toString
    val mods = modules(plan.get("src").asText)
    val paths = plan.get("paths").elements().asScala.toSeq
    var spark: SparkSession = null
    def make(p: JsonNode): Workload = {
      val dir = s"$work/${p.get("name").asText}"
      val input = p.get("input").asText
      val rules = RateLimit.defaultRules(p.get("search").asLong, p.get("fallback").asLong)
      p.get("name").asText match {
        case "fanout_bulk" => new FanoutBulk(spark, input, dir, rules, p.get("mult").asInt)
        case "pipeline_run" => new PipelineRun(spark, input, dir, rules, mods)
        case "query_leaves" => new QueryLeaves(spark, input, dir)
        case other => throw new IllegalArgumentException(s"unknown path $other")
      }
    }

    val results = if (plan.get("trace").asInt == 0) {
      val p = paths.head
      var wl: Workload = null
      // set-up, repeated: a fresh session each time
      val setupS = (1 to plan.get("setup_reps").asInt).map { _ =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(work)
        wl = make(p)
        (System.nanoTime() - t0) / 1e9
      }
      log(s"set-up done: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
      var i = 0
      def job(): Timed = {
        i += 1
        val t = wl.timed(i)
        log(f"job $i ${t.wallS}%.2f s")
        t
      }
      // warm-up: the JIT keeps speeding the driver-side code up for several
      // jobs, so a fixed number run before any is measured; the first
      // (cold) one counts as set-up
      val warm = Seq.fill(plan.get("warmup_jobs").asInt)(job())
      // then jobs until `seconds` of job time are spent; a failed job ends it
      val jobs = scala.collection.mutable.ArrayBuffer[Timed]()
      while (jobs.map(_.wallS).sum < plan.get("seconds").asDouble) jobs += job()
      Map(p.get("name").asText -> Map("setup_s" -> setupS, "warm_up" -> warm.map(timedJson),
        "jobs" -> jobs.toSeq.map(timedJson), "spec" -> wl.spec))
    } else {
      spark = session(work)
      val rec = new Recorder(spark.sparkContext)
      val out = paths.map { p =>
        val wl = make(p)
        val warm = wl.timed(0)
        log(f"${p.get("name").asText}: warm-up job ${warm.wallS}%.2f s")
        rec.attach()
        val layers = wl.layers(rec)
        rec.detach()
        p.get("name").asText -> Map("warm_up" -> Seq(timedJson(warm)), "jobs" -> Seq.empty,
          "spec" -> wl.spec, "layers" -> layers.toMap)
      }.toMap
      Files.writeString(Paths.get(work, "trace.json"), mapper.writeValueAsString(rec.trace))
      out
    }
    Files.writeString(Paths.get(work, "result.json"),
      mapper.writeValueAsString(Map("paths" -> results)))
    spark.stop()
    log("stopped")
  }
}
