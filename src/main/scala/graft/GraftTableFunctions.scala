package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import graft.agg.TopK
import graft.cdc.Cdc
import graft.temporal.TemporalJoin

/** The engine's whole-relation operators as SQL TABLE functions — the
  * `FROM asof_join(...)` surface for users who live in SQL text rather than
  * the Column API (the reference's users configure pipelines in YAML and
  * query in SQL; a Scala-only operator library would be invisible to them).
  *
  * Each function takes VIEW NAMES (temp views or catalog tables) plus literal
  * options, resolves the views against the calling session, builds the exact
  * same DataFrame the Scala API builds, and hands its logical plan back to
  * the analyzer — so the SQL form and the Column form are one code path, one
  * plan shape, one set of plan-pinned guarantees:
  *
  *   SELECT * FROM asof_join('probe_v', 'build_v', 'k1,k2', 'ts', 'snap_ts')
  *   SELECT * FROM range_join('pts_v', 'iv_v', 'k', 'ts', 's', 'e', 3600000000)
  *   SELECT * FROM overlap_join('l_v', 'r_v', 'k', 'ls', 'le', 'rs', 're', 3600000000)
  *   SELECT * FROM top_k('orders_v', 'segment', 'price_cents DESC, o_orderkey', 3, 'rnk')
  *   SELECT * FROM apply_changelog('snap_v', 'changes_v', 'k', 'seq', 'op')
  *
  * Registered by [[GraftExtensions]] (builder-time `spark.sql.extensions`
  * conf) or [[GraftExtensions.register]] (already-built sessions). Injection
  * uses the public `SparkSessionExtensions.injectTableFunction` hook — no
  * parser changes, no internals.
  */
object GraftTableFunctions {

  // literal-argument readers, shared with GraftExtensions' scalar functions
  private[graft] def strArg(e: Expression, name: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other =>
      throw new IllegalArgumentException(s"$name must be a string literal, got $other")
  }
  private[graft] def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other =>
      throw new IllegalArgumentException(s"$name must be an integer literal, got $other")
  }
  private def optLongArg(args: Seq[Expression], i: Int, name: String): Option[Long] =
    if (args.length > i) Some(longArg(args(i), name)) else None
  /** longArg + int-range check: a silently-wrapped `.toInt` would run the
    * operator with a drastically different parameter instead of erroring. */
  private[graft] def exactInt(v: Long, name: String): Int = {
    require(v >= Int.MinValue && v <= Int.MaxValue, s"$name out of int range: $v")
    v.toInt
  }

  /** The session running the query whose analysis invoked the builder. */
  private def session: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "graft table functions need an active SparkSession"))

  private def view(name: String): DataFrame = session.table(name)

  private def keys(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** `"price DESC, id"` → order columns (the only mini-parse in the layer;
    * bare column name = ascending, trailing ASC/DESC keyword honored). */
  private def orderCols(spec: String): Seq[org.apache.spark.sql.Column] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
      val ws = part.split("\\s+")
      ws.map(_.toUpperCase).toSeq match {
        case Seq(_)         => col(ws(0))
        case Seq(_, "ASC")  => col(ws(0)).asc
        case Seq(_, "DESC") => col(ws(0)).desc
        case _ => throw new IllegalArgumentException(
          s"order spec entry must be `col [ASC|DESC]`, got: $part")
      }
    }

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  private def fn(name: String)(builder: Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name),
      new ExpressionInfo(GraftTableFunctions.getClass.getName, name),
      builder)

  /** (identifier, info, builder) triples for
    * `SparkSessionExtensions.injectTableFunction` /
    * `TableFunctionRegistry.registerFunction`. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    // asof_join(probe, build, keys, probeTs, buildTs [, maxStaleness])
    fn("asof_join") { args =>
      plan(TemporalJoin.asofJoin(
        view(strArg(args(0), "probe")), view(strArg(args(1), "build")),
        keys(strArg(args(2), "keys")),
        strArg(args(3), "probeTs"), strArg(args(4), "buildTs"),
        optLongArg(args, 5, "maxStaleness")))
    },
    // asof_join_broadcast(probe, build, keys, probeTs, buildTs [, maxStaleness])
    fn("asof_join_broadcast") { args =>
      plan(TemporalJoin.asofJoinBroadcast(
        view(strArg(args(0), "probe")), view(strArg(args(1), "build")),
        keys(strArg(args(2), "keys")),
        strArg(args(3), "probeTs"), strArg(args(4), "buildTs"),
        optLongArg(args, 5, "maxStaleness")))
    },
    // range_join(points, intervals, keys, pointTs, startTs, endTs, bucketWidth
    //            [, maxBucketsPerInterval])
    fn("range_join") { args =>
      plan(TemporalJoin.rangeJoin(
        view(strArg(args(0), "points")), view(strArg(args(1), "intervals")),
        keys(strArg(args(2), "keys")), strArg(args(3), "pointTs"),
        strArg(args(4), "startTs"), strArg(args(5), "endTs"),
        longArg(args(6), "bucketWidth"),
        optLongArg(args, 7, "maxBucketsPerInterval").getOrElse(4096L)))
    },
    // overlap_join(left, right, keys, lStart, lEnd, rStart, rEnd, bucketWidth
    //              [, maxBucketsPerInterval])
    fn("overlap_join") { args =>
      plan(TemporalJoin.overlapJoin(
        view(strArg(args(0), "left")), view(strArg(args(1), "right")),
        keys(strArg(args(2), "keys")),
        strArg(args(3), "lStart"), strArg(args(4), "lEnd"),
        strArg(args(5), "rStart"), strArg(args(6), "rEnd"),
        longArg(args(7), "bucketWidth"),
        optLongArg(args, 8, "maxBucketsPerInterval").getOrElse(4096L)))
    },
    // top_k(view, partitionCols, orderSpec, k [, rankName])
    fn("top_k") { args =>
      plan(TopK.perGroup(
        view(strArg(args(0), "view")),
        keys(strArg(args(1), "partitionCols")).map(col),
        orderCols(strArg(args(2), "orderSpec")),
        exactInt(longArg(args(3), "k"), "k"),
        if (args.length > 4) strArg(args(4), "rankName") else "rank"))
    },
    // apply_changelog(snapshot, changelog, keys, seqCol, opCol)
    fn("apply_changelog") { args =>
      plan(Cdc.applyChangelog(
        view(strArg(args(0), "snapshot")), view(strArg(args(1), "changelog")),
        keys(strArg(args(2), "keys")),
        strArg(args(3), "seqCol"), strArg(args(4), "opCol")))
    },
    // diff_snapshots(oldSnap, newSnap, keys [, seq])
    fn("diff_snapshots") { args =>
      plan(Cdc.diffSnapshots(
        view(strArg(args(0), "oldSnap")), view(strArg(args(1), "newSnap")),
        keys(strArg(args(2), "keys")),
        optLongArg(args, 3, "seq").getOrElse(1L)))
    },
    // scd2_history(changelog, keys, seqCol, opCol, tsCol)
    fn("scd2_history") { args =>
      plan(graft.cdc.Scd2.fromChangelog(
        view(strArg(args(0), "changelog")), keys(strArg(args(1), "keys")),
        strArg(args(2), "seqCol"), strArg(args(3), "opCol"), strArg(args(4), "tsCol")))
    },
    // active_intervals(spans, startCol, endCol, bucketWidth [, blockBuckets])
    fn("active_intervals") { args =>
      plan(graft.temporal.Sweep.activeIntervals(
        view(strArg(args(0), "spans")),
        strArg(args(1), "startCol"), strArg(args(2), "endCol"),
        longArg(args(3), "bucketWidth"),
        exactInt(optLongArg(args, 4, "blockBuckets").getOrElse(4096L), "blockBuckets")))
    },
    // fill_forward(obs, keys, tsUsCol, stepUs [, maxSlotsPerKey])
    fn("fill_forward") { args =>
      plan(graft.temporal.Series.fillForward(
        view(strArg(args(0), "obs")), keys(strArg(args(1), "keys")),
        strArg(args(2), "tsUsCol"), longArg(args(3), "stepUs"),
        optLongArg(args, 4, "maxSlotsPerKey").getOrElse(1L << 20)))
    },
    // counter_increase(samples, keys, tsCol, counterCol [, tieBreak])
    fn("counter_increase") { args =>
      plan(graft.temporal.Series.counterIncrease(
        view(strArg(args(0), "samples")), keys(strArg(args(1), "keys")),
        strArg(args(2), "tsCol"), strArg(args(3), "counterCol"),
        if (args.length > 4) keys(strArg(args(4), "tieBreak")) else Nil))
    },
    // mad_flags(series, keys, orderCols, valueCol, window, k)
    fn("mad_flags") { args =>
      plan(graft.temporal.Anomaly.madFlags(
        view(strArg(args(0), "series")), keys(strArg(args(1), "keys")),
        keys(strArg(args(2), "orderCols")), strArg(args(3), "valueCol"),
        exactInt(longArg(args(4), "window"), "window"), exactInt(longArg(args(5), "k"), "k")))
    },
    // page_rank(edges, iters [, scale, dampPct])
    fn("page_rank") { args =>
      plan(graft.graph.PageRank.ranks(
        view(strArg(args(0), "edges")), exactInt(longArg(args(1), "iters"), "iters"),
        optLongArg(args, 2, "scale").getOrElse(1000000000000L),
        exactInt(optLongArg(args, 3, "dampPct").getOrElse(85L), "dampPct")))
    },
    // postings(docs, idCol, textCol, minDf, maxDfPercent)
    fn("postings") { args =>
      plan(graft.text.Search.postings(
        view(strArg(args(0), "docs")), strArg(args(1), "idCol"),
        strArg(args(2), "textCol"), longArg(args(3), "minDf"),
        exactInt(longArg(args(4), "maxDfPercent"), "maxDfPercent")))
    },
    // bm25(docs, idCol, textCol, termsCsv, k)
    fn("bm25") { args =>
      plan(graft.text.Search.bm25TopK(
        view(strArg(args(0), "docs")), strArg(args(1), "idCol"),
        strArg(args(2), "textCol"), keys(strArg(args(3), "terms")),
        exactInt(longArg(args(4), "k"), "k")))
    },
    // profile_drift(before, after [, maxNullDeltaBp, maxDistinctRatioPct]) —
    // profiles both tables (HLL distinct mode) and diffs them
    fn("profile_drift") { args =>
      plan(graft.quality.Drift.drift(
        graft.quality.Drift.profile(view(strArg(args(0), "before"))),
        graft.quality.Drift.profile(view(strArg(args(1), "after"))),
        optLongArg(args, 2, "maxNullDeltaBp").getOrElse(100L),
        optLongArg(args, 3, "maxDistinctRatioPct").getOrElse(150L)))
    },
    // jaccard_pairs(docs, idCol, textCol, n, tMilli)
    fn("jaccard_pairs") { args =>
      plan(graft.dedup.SetSimJoin.jaccardPairs(
        view(strArg(args(0), "docs")), strArg(args(1), "idCol"),
        strArg(args(2), "textCol"), exactInt(longArg(args(3), "n"), "n"),
        longArg(args(4), "tMilli")))
    },
    // heavy_hitters(table, column, k)
    fn("heavy_hitters") { args =>
      plan(graft.agg.HeavyHitters.exactTop(
        view(strArg(args(0), "table")), strArg(args(1), "column"),
        exactInt(longArg(args(2), "k"), "k")))
    },
    // weighted_sample(table, idCol, weightCol, k [, salt])
    fn("weighted_sample") { args =>
      plan(graft.text.TextAnalysis.weightedSample(
        view(strArg(args(0), "table")), strArg(args(1), "idCol"),
        strArg(args(2), "weightCol"), exactInt(longArg(args(3), "k"), "k"),
        if (args.length > 4) strArg(args(4), "salt") else "wsample"))
    })
}
