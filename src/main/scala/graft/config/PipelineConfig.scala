package graft.config

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.expr

import graft.pipeline.Pipeline
import graft.route.RouteRule
import graft.limit.LimitRule

/** Declarative YAML pipeline config — the engine's "query language", the
  * direct translation of the reference's routing YAML
  * (reference dummy.yaml:1-55, config/config.go:12-93). Predicates are SQL
  * expression strings compiled to Catalyst via `expr()`, so the whole config
  * lowers into the same optimized plan as the programmatic API.
  *
  * Example:
  * {{{
  * routes:
  *   - sink: sink_a
  *     predicate: "tool = 'bash' AND role = 'assistant'"
  * limits:
  *   - sink: sink_search
  *     throughput: 10KB        # bytes per bucket
  *     average_over: 3         # sliding mean over trailing buckets (L4)
  *     action: fallback        # fallback | discard | alert
  *     fallback: sink_fallback
  * }}}
  * An unknown key or an empty value is refused, not read as a default.
  */
object PipelineConfig {

  /** "10KB" / "2MB" / "512" → bytes (reference P9, bytefmt.ToBytes). */
  def parseBytes(s: String): Long = {
    val t = s.trim.toUpperCase
    val (num, mult) =
      if (t.endsWith("GB")) (t.dropRight(2), 1L << 30)
      else if (t.endsWith("MB")) (t.dropRight(2), 1L << 20)
      else if (t.endsWith("KB")) (t.dropRight(2), 1L << 10)
      else if (t.endsWith("B")) (t.dropRight(1), 1L)
      else (t, 1L)
    val v = num.trim.toDouble
    require(v >= 0, s"negative byte size: $s")
    (v * mult).toLong
  }

  def fromYaml(yaml: String): Pipeline.Config = {
    val loaded = new org.yaml.snakeyaml.Yaml().load[Object](yaml)
    require(loaded != null, "empty config")
    val m = entry(loaded, "the config", Set("routes", "limits"))

    def asList(key: String, known: String*): Seq[Map[String, Object]] = m.get(key) match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map(entry(_, s"a '$key' entry", known.toSet))
      case None => Seq.empty
      case other => throw new IllegalArgumentException(s"$key must be a list, got $other")
    }
    def str(e: Map[String, Object], k: String): String =
      e.getOrElse(k, throw new IllegalArgumentException(s"missing '$k' in $e")).toString

    // RouteRule checks its sink name (F5)
    val routes = asList("routes", "sink", "predicate")
      .map(e => RouteRule(str(e, "sink"), expr(str(e, "predicate"))))
    require(routes.nonEmpty, "config needs at least one route")

    // LimitRule checks its action, sink names and window (F5)
    val limits = asList("limits", "sink", "throughput", "average_over", "action", "fallback").map { e =>
      LimitRule(
        sink = str(e, "sink"),
        bytesPerBucket = parseBytes(str(e, "throughput")),
        avgOverBuckets = e.get("average_over").map(_.toString.toInt).getOrElse(1),
        action = str(e, "action"),
        fallbackSink = e.get("fallback").map(_.toString))
    }

    Pipeline.Config(routeRules = routes, limitRules = limits)
  }

  /** A YAML mapping's entries; an unknown key or an empty value is refused, naming it. */
  private def entry(node: Any, where: String, known: Set[String]): Map[String, Object] = {
    val m = node.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
    m.foreach { case (k, v) =>
      require(known(k), s"unknown key '$k' in $where; expected one of ${known.mkString(", ")}")
      require(v != null, s"empty value for '$k' in $where")
    }
    m
  }

  def fromFile(path: String): Pipeline.Config =
    fromYaml(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
