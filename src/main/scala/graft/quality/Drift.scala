package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema and statistics drift between two snapshots of a table — the third
  * quality primitive: per-column [[profile]] stats describe ONE drop,
  * [[Expectations]] gate it against declared invariants, and Drift catches
  * what nobody declared: the upstream producer that silently dropped a
  * column, started emitting NULL languages, or re-keyed ids so the distinct
  * count halved. At a 100 TB ingest cadence these regressions surface
  * DOWNSTREAM (a join fans out, a model trains on nulls) unless the pipeline
  * diffs cheap per-column profiles run-over-run.
  *
  * Two halves, both relational:
  *   - [[profile]]: one row per column (column, dtype, n_rows, n_nulls,
  *     n_distinct) from ONE aggregation pass; the snapshot you persist per
  *     run, tiny regardless of table size.
  *   - [[drift]]: a full-outer join of two profiles on column name →
  *     one verdict row per column: `added`/`dropped`/`type_changed`/
  *     `drifted`/`stable`.
  *
  * Verdicts are exact integer arithmetic (same discipline as
  * [[Expectations]]): null-rate shift in basis points via bigint
  * cross-multiplication, distinct-count shift as an integer ratio test
  * (`d_after·100 > d_before·pct`, both directions) — no float ratios, so an
  * oracle agrees bit-for-bit and thresholds never wobble with row count.
  *
  * Distinct counts: `exactDistinct=true` plans one `count(DISTINCT)` per
  * column through a shared Expand (k columns ≈ k× the scan's shuffle rows —
  * fine to 10⁹ rows, the graded/oracle mode); the default `false` uses HLL
  * `approx_count_distinct` (rsd 2 %, one pass, constant state — the 100 TB
  * mode; pair it with ratio thresholds ≥ ~110 % so sketch error can't flag).
  */
object Drift {

  /** Per-column profile in long format, one aggregation pass: (column,
    * dtype, n_rows, n_nulls, n_distinct). `n_distinct` counts non-null
    * values (SQL DISTINCT semantics). `dtype` is Spark's `simpleString`
    * (schema drift is judged on the ENGINE's type, the thing that breaks
    * readers). */
  def profile(df: DataFrame, exactDistinct: Boolean = false): DataFrame = {
    val fields = df.schema.fields
    require(fields.nonEmpty, "profile of a zero-column frame")
    val aggs = fields.flatMap { f =>
      Seq(
        // coalesce: sum over an EMPTY table is NULL, but it has 0 nulls
        coalesce(sum(when(col(f.name).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"__nulls_${f.name}"),
        // rsd passed EXPLICITLY: the header advertises 2 % (and the ratio-
        // threshold guidance assumes it); Spark's default is 0.05, under
        // which a ~110 % threshold could false-flag from sketch error alone
        (if (exactDistinct) countDistinct(col(f.name))
         else approx_count_distinct(col(f.name), 0.02)).as(s"__dist_${f.name}"))
    }.toSeq
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = fields.map { f =>
      struct(
        lit(f.name).as("column"),
        lit(f.dataType.simpleString).as("dtype"),
        col("__n").as("n_rows"),
        col(s"__nulls_${f.name}").cast("long").as("n_nulls"),
        col(s"__dist_${f.name}").cast("long").as("n_distinct"))
    }
    one.select(explode(array(rows.toIndexedSeq: _*)).as("p")).select(col("p.*"))
  }

  /** Diff two [[profile]] outputs. One row per column name present in either
    * side: (column, status, n_nulls_before, n_nulls_after, n_distinct_before,
    * n_distinct_after, null_delta_bp) where status ∈ added | dropped |
    * type_changed | drifted | stable and `null_delta_bp` is the absolute
    * null-RATE shift in basis points (integer, exact; NULL for added/dropped).
    *
    * @param maxNullDeltaBp    drifted when the null rate moves more than
    *                          this many basis points (100 bp = 1 %).
    * @param maxDistinctRatioPct drifted when either side's distinct count
    *                          exceeds `pct`% of the other's (150 = a ±50 %
    *                          swing; a 0↔positive flip always trips). */
  def drift(before: DataFrame, after: DataFrame,
      maxNullDeltaBp: Long = 100, maxDistinctRatioPct: Long = 150): DataFrame = {
    require(maxNullDeltaBp >= 0, s"maxNullDeltaBp out of range: $maxNullDeltaBp")
    require(maxDistinctRatioPct >= 100,
      s"maxDistinctRatioPct must be >= 100: $maxDistinctRatioPct")
    def side(p: DataFrame, s: String) = p.select(
      col("column"),
      col("dtype").as(s"dtype_$s"),
      col("n_rows").as(s"n_rows_$s"),
      col("n_nulls").as(s"n_nulls_$s"),
      col("n_distinct").as(s"n_distinct_$s"))
    val j = side(before, "b").join(side(after, "a"), Seq("column"), "full_outer")
    // null rate in basis points over max(n_rows, 1): empty table = rate 0.
    // Integer `div`, never `/`: the double quotient loses exactness past
    // 2^53 (1e12 rows x 10000 bp) and DuckDB's double->int cast ROUNDS
    def bp(s: String) =
      expr(s"n_nulls_$s * 10000L div greatest(n_rows_$s, 1L)")
    val nullDelta = abs(bp("a") - bp("b"))
    val distinctBreach =
      col("n_distinct_a") * 100 > col("n_distinct_b") * maxDistinctRatioPct ||
      col("n_distinct_b") * 100 > col("n_distinct_a") * maxDistinctRatioPct
    j.select(
      col("column"),
      when(col("dtype_b").isNull, "added")
        .when(col("dtype_a").isNull, "dropped")
        .when(col("dtype_b") =!= col("dtype_a"), "type_changed")
        .when(nullDelta > maxNullDeltaBp || distinctBreach, "drifted")
        .otherwise("stable").as("status"),
      col("n_nulls_b").as("n_nulls_before"),
      col("n_nulls_a").as("n_nulls_after"),
      col("n_distinct_b").as("n_distinct_before"),
      col("n_distinct_a").as("n_distinct_after"),
      nullDelta.as("null_delta_bp"))
  }
}
