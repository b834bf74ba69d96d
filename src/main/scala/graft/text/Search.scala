package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text search primitives over the documents table: a relational
  * inverted index (term postings with df cutoffs) and BM25 ranked retrieval.
  * The search-engine ingest/query pair a log platform bolts on next to its
  * analytics (the reference ships raw events to a hosted search backend —
  * `/root/reference/source/sender/sender.go` — this is the self-hosted
  * analog's core).
  *
  * Postings are RELATIONAL (one row per (term, doc)) rather than
  * array-packed: at corpus scale a posting list for a frequent term is
  * millions of entries — a single array cell would concentrate a term's
  * whole list in one task (the same reason [[graft.dedup.MinHashLSH]] keeps
  * band buckets exploded). Rows shuffle, balance and join; arrays don't.
  *
  * Shuffle shape: tf = groupBy(term, doc) hashes BOTH keys — balanced under
  * zipfian terms (a by-term-only layout would hand one task the full
  * stopword share of the corpus); df = groupBy(term).count() over the
  * already tf-aggregated rows — map-side combinable, so each reducer
  * receives one partial per (term, task), never a stopword's full posting
  * list (the round-6 formulation attached df with a by-term WINDOW, which
  * re-shuffled every (term, doc) row of a stopword to ONE reducer before
  * the df cutoff could drop it — the same hot-term straggler the tf stage
  * avoids, reintroduced one stage later). The df cutoffs are applied to the
  * VOCABULARY (one row per surviving term) before it is broadcast back onto
  * the tf rows, so stopword tf rows die in place with zero extra shuffle —
  * the broadcast is vocabulary-bounded, not corpus-bounded.
  *
  * BM25 is two passes, zero data-sized shuffles: one scalar aggregate for
  * (N, Σdl, df per query term), one scoring scan + top-k
  * (TakeOrderedAndProject — per-partition heaps, never a full sort). Scores
  * are integer milli-points: each per-term contribution is floor-scaled to
  * a bigint PER ROW and contributions are added as integer COLUMNS, so no
  * double ever crosses rows — rankings are reshuffle-deterministic and a
  * DuckDB oracle hash-matches (ties broken by doc id). Ad-hoc queries score
  * by scan; a standing query set at scale joins [[postings]] instead.
  */
object Search {

  /** Lowercased whitespace tokens — [[TextAnalysis.tokens]]' convention.
    * DuckDB twin: `list_filter(string_split_regex(lower(text), '\s+'),
    * t -> t <> '')`. */
  private def toks(textCol: String) =
    TextAnalysis.tokens(lower(col(textCol)))

  /** The inverted index as rows: (term, doc_id, tf, df) for every term with
    * `minDf <= df` and `df·100 <= maxDfPercent·N` (integer-exact ratio — the
    * stopword cutoff; terms in ~every document carry no signal and dominate
    * index size).
    *
    * df is attached to the tf rows by force-broadcasting the post-cutoff
    * vocabulary — right whenever it fits an executor (the term dictionary
    * every search engine holds per node), and a hard hint so the planner's
    * missing statistics on the aggregate subtree can't demote it. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long, maxDfPercent: Int): DataFrame = {
    require(minDf >= 1, s"minDf out of range: $minDf")
    require(maxDfPercent >= 1 && maxDfPercent <= 100,
      s"maxDfPercent out of range: $maxDfPercent")
    val n = docs.select(count(lit(1)).as("n"))
    val tf = docs.select(col(idCol).as("doc_id"), explode(toks(textCol)).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    // df per term: map-side-combinable aggregate (no by-term window — see
    // header), cutoffs applied while the set is one row per term, THEN
    // joined back onto the tf rows (which stay (term, doc)-hash-distributed
    // under the broadcast form; dropped terms' tf rows are filtered in place
    // by the inner join)
    val vocab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= minDf && col("df") * 100 <= col("n") * maxDfPercent)
      .select(col("term"), col("df"))
    tf.join(broadcast(vocab), "term")
      .select(col("term"), col("doc_id"), col("tf"), col("df"))
  }

  /** Corpus statistics BM25 needs: document count, total token count, and
    * per-query-term document frequency — ONE scalar aggregate pass. */
  final case class Bm25Stats(n: Long, sumDl: Long, df: Map[String, Long])

  def bm25Stats(docs: DataFrame, textCol: String,
      terms: Seq[String]): Bm25Stats = {
    require(terms.nonEmpty, "give at least one query term")
    val t = toks(textCol)
    val aggs = sum(size(t).cast("long")).as("sum_dl") +:
      terms.zipWithIndex.map { case (q, i) =>
        sum(when(array_contains(t, q), 1L).otherwise(0L)).as(s"df_$i")
      }
    val row = docs.agg(count(lit(1)).as("n"), aggs: _*).collect().head
    Bm25Stats(row.getAs[Long]("n"), row.getAs[Long]("sum_dl"),
      terms.zipWithIndex.map { case (q, i) => q -> row.getAs[Long](s"df_$i") }.toMap)
  }

  /** Top-`k` documents for `terms` under BM25 (Robertson idf with the +1
    * floor, so common terms score ≥ 0). Output: (doc_id, score_milli),
    * ordered score-desc then doc_id. The per-term contribution
    *
    *   floor(1000 · ln((N − df + ½)/(df + ½) + 1) · tf·(k1+1)
    *         / (tf + k1·(1 − b + b·dl/avgdl)))
    *
    * is a bigint per (doc, term) computed on the doc's own row; the score is
    * the integer SUM OF COLUMNS — no double leaves its row. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k out of range: $k")
    val st = bm25Stats(docs, textCol, terms)
    val avgdl = st.sumDl.toDouble / st.n
    // ONE compiled traversal of the token array counts every query term
    // (graft.functions.TermCounts) — the round-6 form ran one interpreted
    // higher-order `filter` scan per term (k passes, never codegen'd)
    val base = docs.select(col(idCol).as("doc_id"), toks(textCol).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
      .withColumn("__tc",
        graft.functions.TermCountsFunctions.term_counts(col("__toks"), terms))
    val contribs = terms.zipWithIndex.map { case (q, qi) =>
      val dfq = st.df(q)
      // idf is a scalar: pre-folded here with the same IEEE ops an engine
      // folding the literal expression performs
      val preIdf = 1000.0 * math.log(
        ((st.n - dfq).toDouble + 0.5) / (dfq.toDouble + 0.5) + 1)
      val tf = element_at(col("__tc"), qi + 1) // bigint — same value as the
        // per-term filter-count it replaces, so every score bit matches
      floor(lit(preIdf) * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / lit(avgdl))))
        .cast("long")
    }
    base.withColumn("score_milli", contribs.reduce(_ + _))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score_milli"))
  }
}
