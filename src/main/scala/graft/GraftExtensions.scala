package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

import graft.functions.{CosineSim, HyperplaneSig, MinHashSignature, NormalizeNfc, SimHash64, WordShingles}
import graft.parse.GrokExtract
import graft.GraftTableFunctions.{exactInt, longArg, strArg}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so `spark.sql` users get the same codegen'd
  * kernels as the Column API:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT grok_extract(text, '<pattern>').level FROM turns
  *   SELECT simhash64(split(text, ' ')) FROM documents
  *
  * and the whole-relation operators as TABLE functions
  * ([[GraftTableFunctions]] — same Scala code path, reachable from SQL text):
  *
  *   SELECT * FROM asof_join('probe_v', 'build_v', 'k', 'ts', 'snap_ts')
  *
  * (Extension-injection pattern per the Spark API docs; no planner rules are
  * needed — SURVEY.md §4.1 — so only function registration is injected.)
  */
object GraftExtensions {
  /** Registers the same functions on an ALREADY-BUILT session (extensions
    * normally bind at builder time; this covers notebook/test sessions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new GraftExtensions
    val reg = spark.sessionState.functionRegistry
    ext.functions.foreach { case (ident, info, builder) =>
      reg.registerFunction(ident, info, builder)
    }
    val treg = spark.sessionState.tableFunctionRegistry
    GraftTableFunctions.functions.foreach { case (ident, info, builder) =>
      treg.registerFunction(ident, info, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$name must be an int literal, got $other")
  }
  private def doubleArg(e: Expression, name: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$name must be a numeric literal, got $other")
  }

  private[graft] val functions: Seq[(
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (org.apache.spark.sql.catalyst.FunctionIdentifier("grok_extract"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GrokExtract].getName, "grok_extract"),
      (args: Seq[Expression]) => GrokExtract(args.head, strArg(args(1), "pattern"))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_signature"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => MinHashSignature(args.head, intArg(args(1), "numHashes"))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => WordShingles(args.head, intArg(args(1), "w"))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args.head, args(1))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_sig"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HyperplaneSig].getName, "hyperplane_sig"),
      (args: Seq[Expression]) => HyperplaneSig(args.head, intArg(args(1), "nPlanes"))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NormalizeNfc].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NormalizeNfc(args.head)),
    // aggregates: the analyzer wraps a returned AggregateFunction in its
    // AggregateExpression during UnresolvedFunction resolution
    (org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_agg"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.BloomAgg].getName, "bloom_agg"),
      (args: Seq[Expression]) => graft.functions.BloomAgg(args.head,
        longArg(args(1), "expectedItems"), doubleArg(args(2), "fpp"))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("misra_gries"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MisraGries].getName, "misra_gries"),
      (args: Seq[Expression]) => graft.functions.MisraGries(args.head,
        exactInt(longArg(args(1), "k"), "k"))))

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach(e.injectFunction)
    GraftTableFunctions.functions.foreach(e.injectTableFunction)
  }
}
