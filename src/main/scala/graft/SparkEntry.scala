package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.agg.SinkMetrics
import graft.limit.{RateLimit, SinglePassLimit}
import graft.dedup.{ExactDedup, MinHashLSH, NgramJaccard, SimHashDedup}
import graft.similarity.Ann
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import graft.relational.Tpch
import graft.temporal.TemporalJoin

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one operator from SURVEY.md §2; every `oracleSql`
  * entry is its DuckDB twin (CTE prelude in [[Oracles]]). Column names are
  * aliased identically on both sides (the driver sorts columns by name before
  * hashing values).
  */
object SparkEntry {

  // ---- shared stage composition (parse → enrich → route → fan-out) ----
  private def turns(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(s, dir)
  private def routed(s: SparkSession, dir: String): DataFrame =
    Pipeline.routed(turns(s, dir))

  // ---- shared derivations for the temporal-join queries ----
  /** 6 h — config-snapshot cadence for the as-of/range families. */
  private val SnapBucketUs = 21600000000L
  /** 90 min — maintenance-window length for the range join. */
  private val WindowLenUs = 5400000000L
  /** The events table's closed event_type domain (pivot's explicit values). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** events with epoch-us timestamps (the cross-engine ts convention) and
    * their 6 h bucket. `div` on both sides — integer division, no
    * double-rounding hazard at bucket boundaries. */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("e_us"))
      .withColumn("bkt", expr(s"e_us div ${SnapBucketUs}L"))

  /** Deterministic sparse config-version history derived from events: one
    * snapshot per 4th 6 h bucket, phase-shifted per event type (so events
    * look back up to ~24 h for their version, and types disagree on
    * snapshot instants — a non-trivial as-of). version = bucket index. */
  private def configSnaps(s: SparkSession, dir: String): DataFrame =
    eventsUs(s, dir)
      .filter(col("bkt") % 4 === length(col("event_type")) % 4)
      .select(col("event_type"), col("bkt").as("version"),
        (col("bkt") * SnapBucketUs).as("snap_us"))
      .distinct()

  /** Z-ordered copy of events (event_id, user_id, absolute-hour bucket) +
    * its file-stats manifest, built once per sf dir on scratch (the
    * `ensureBucketedFacts` ingest-prepays-the-layout pattern; reruns and
    * later JVMs reuse it — the manifest's _SUCCESS is the done marker). */
  private val zOrderLock = new Object
  private[graft] def ensureZOrderedEvents(s: SparkSession, dir: String): String =
    zOrderLock.synchronized {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val zdir = s"${graft.util.Env.scratchDir}/graft_events_z$tag"
      val done = new java.io.File(
        graft.layout.Skipping.statsPath(zdir) + "/_SUCCESS")
      if (!done.exists()) {
        val ev = s.read.parquet(s"$dir/events.parquet")
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hr"))
        // rank-normalized: absolute hr (~473k > 2^16) fed raw would be
        // low-16-bit masked — fine while the data stays inside one 65536-hr
        // window, silently unprunable the day it spans one (user_id grows
        // past 16 bits at scale too). Rank keeps both RANGE-prunable.
        graft.layout.ZOrder.writeZOrderedByRank(ev, "hr", "user_id",
          zdir, nFiles = 32)
        graft.layout.Skipping.writeStats(s, zdir, Seq("hr", "user_id"))
        // the index must regenerate WITH the layout: a rebuilt z-write has
        // new part-file names, and an index surviving from the old layout
        // would reference dead paths (or, with ignoreMissingFiles, silently
        // lose rows — the exact soundness the bloom promises)
        graft.layout.BloomIndex.writeIndex(s, zdir, "event_id",
          expectedItemsPerFile = 1L << 16)
      }
      // upgrade path only: scratch layouts predating the index gain it
      // without re-running the z-write
      val bloomDone = new java.io.File(
        graft.layout.BloomIndex.indexPath(zdir, "event_id") + "/_SUCCESS")
      if (!bloomDone.exists())
        graft.layout.BloomIndex.writeIndex(s, zdir, "event_id",
          expectedItemsPerFile = 1L << 16)
      zdir
    }

  /** Scattered event_ids inside every SF's domain (sf0.001 tops out at 999)
    * — [[ensureZOrderedEvents]]'s layout clusters (hr, user_id), so these
    * land in bloom-prunable, box-unprunable positions. */
  private val BloomLookupIds: Seq[Any] =
    Seq(7L, 123L, 250L, 401L, 512L, 700L, 888L, 963L)

  /** 64-tiny-file events copy, bin-packed once per sf dir (compaction's
    * dir swap replaces the data dir, so the done marker lives BESIDE it). */
  private def ensureCompactedEvents(s: SparkSession, dir: String): String =
    zOrderLock.synchronized {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cdir = s"${graft.util.Env.scratchDir}/graft_events_compact$tag"
      val done = new java.io.File(cdir + "__done")
      if (!done.exists()) {
        graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(cdir))
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_id"), col("user_id"))
          .repartition(64)
          .write.mode("overwrite").parquet(cdir)
        val bytes = graft.layout.Compact.dataFiles(cdir)
          .map(java.nio.file.Files.size).sum
        val r = graft.layout.Compact.compact(s, cdir, targetFileBytes = bytes / 4 + 1)
        require(r.rewritten && r.filesAfter <= 4,
          s"compaction ingest failed to collapse the layout: $r")
        done.createNewFile()
      }
      cdir
    }

  /** Orders projected to the CDC snapshot shape (money as exact cents). */
  private def cdcSnapshot(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("bigint").as("price_cents"))

  /** Deterministic changelog over the snapshot: price bumps on every 7th
    * key (seq 1), deletes on every 11th (seq 2 — outranks the %77 overlap's
    * update), inserts on every 13th under key+1e8 (disjoint key space, so
    * (key, seq) is unique and the winner is order-independent). Generic over
    * the snapshot's remaining columns — extra measures ride along unchanged
    * (q_incr_agg_multi's `units`). */
  private def cdcChangelog(snap: DataFrame): DataFrame = {
    val updates = snap.filter(col("o_orderkey") % 7 === 0)
      .withColumn("price_cents", col("price_cents") + 1000L)
      .withColumn("op", lit("U")).withColumn("seq", lit(1L))
    val deletes = snap.filter(col("o_orderkey") % 11 === 0)
      .withColumn("op", lit("D")).withColumn("seq", lit(2L))
    val inserts = snap.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("op", lit("I")).withColumn("seq", lit(1L))
    updates.unionByName(deletes).unionByName(inserts)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SinkMetrics.perSink(routed(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2/P1: scan + derivation (the transcript table itself)
    "q_turns" -> ((s, dir) =>
      turns(s, dir).select(col("conv_id"), col("turn_idx"), col("role"),
        col("text"), col("tool"))),
    // P5/S5 + §2.3: grok/regex parse stage — level/status distribution
    "q_parse_stats" -> ((s, dir) =>
      Pipeline.routable(turns(s, dir))
        .groupBy(col("level"), col("status"))
        .agg(count(lit(1)).as("n"), sum(col("dur_ms")).as("total_dur"))),
    // R1/R2: router fan-out — per-sink counts
    "q_route_counts" -> ((s, dir) =>
      routed(s, dir).groupBy(col("sink")).agg(count(lit(1)).as("turns"))),
    // routed-row equality (full content, per-turn text)
    "q_routed_rows" -> ((s, dir) =>
      routed(s, dir).select(col("conv_id"), col("turn_idx"), col("sink"), col("text"))),
    // A1: per-sink aggregates (count, bytes, distinct convs)
    "q_sink_agg" -> ((s, dir) => SinkMetrics.perSink(routed(s, dir))),
    // A1: per-conv turn spans
    "q_conv_spans" -> ((s, dir) => SinkMetrics.convSpans(turns(s, dir))),
    // A1: spans per (sink, conv) over routed output
    "q_sink_conv_spans" -> ((s, dir) => SinkMetrics.perSinkConvSpans(routed(s, dir))),
    // north_star: per-conv span via window over conv_id ordered by turn_idx
    "q_conv_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      turns(s, dir)
        .withColumn("running_turns", count(lit(1)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("prev_role", lag(col("role"), 1).over(w))
        .select(col("conv_id"), col("turn_idx"), col("running_turns"), col("prev_role"))
    }),
    // P7: enrichment-driven redaction projection (redact=true tools masked)
    "q_redact" -> ((s, dir) =>
      Pipeline.routable(turns(s, dir))
        .select(col("conv_id"), col("turn_idx"),
          when(col("redact"), concat(lit("<redacted:"),
            octet_length(col("payload")).cast("string"), lit(">")))
            .otherwise(col("payload")).as("payload_out"))),
    // P7: map-flattening → JSON document (logz.io sink format analog)
    "q_json_format" -> ((s, dir) =>
      Pipeline.routable(turns(s, dir))
        .filter(col("level").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          concat(lit("{\"message\":\""), col("payload"),
            lit("\",\"type\":\""), col("role"),
            lit("\",\"level\":\""), col("level"),
            lit("\",\"tool\":\""), col("tool"), lit("\"}")).as("doc"))),
    // P7: free-form metadata as a real MAP column, flattened — the reference
    // envelope carries map<string,string> meta (message/protobuf.proto:20)
    // that the logz.io target flattens wholesale (target/logzio/server.go:
    // 87-91); the map is synthesized from parsed fields (the input_hint
    // schema has no map column), the flatten machinery is generic
    "q_meta_flatten" -> ((s, dir) =>
      Pipeline.routable(turns(s, dir))
        .select(col("conv_id"), col("turn_idx"),
          explode_outer(map(lit("level"), col("level"), lit("tool"), col("tool"),
            lit("status"), col("status"))))
        .withColumnRenamed("key", "meta_key")
        .withColumnRenamed("value", "meta_value")),
    // L4/alert: breach records for an alert-action rule (the reference
    // declares action=alert in config but left it TODO; implemented here —
    // rows pass through, breached buckets are surfaced)
    "q_limit_alerts" -> ((s, dir) =>
      RateLimit.breachVerdicts(routed(s, dir),
          graft.limit.LimitRule("sink_search", 150L, 3, "alert", None))
        .filter(col("breached"))
        .select(col("sink"), (col("bucket") * 3600).as("bucket_epoch"),
          floor(col("avg_bytes")).cast("long").as("avg_bytes_floor"))),
    // R1 broadcast enrich: per-(team, cost_class) rollup
    "q_enrich_agg" -> ((s, dir) =>
      Pipeline.routable(turns(s, dir))
        .groupBy(col("team"), col("cost_class"))
        .agg(count(lit(1)).as("n"), sum(col("dur_ms")).as("total_dur"))),
    // L1: tumbling per-(sink, bucket) byte sums
    "q_limit_buckets" -> ((s, dir) =>
      RateLimit.bucketBytes(routed(s, dir))
        .select(col("sink"), (col("bucket") * 3600).as("bucket_epoch"),
          col("bucket_bytes"))),
    // L4+R3/R4: full limiter chain (fallback then discard) — surviving per-sink
    // totals, through the single-pass limiter Pipeline.run ships
    "q_limit_final" -> ((s, dir) =>
      SinglePassLimit.limitReusingShuffle(routed(s, dir), RateLimit.defaultRules(150L, 120L))
        .groupBy(col("sink"))
        .agg(count(lit(1)).as("turns"), sum(octet_length(col("text"))).as("bytes"))),
    // R4: discarded rows (full keys, for row-set equality)
    "q_limit_dropped" -> ((s, dir) => {
      val (_, dropped) = RateLimit.apply(routed(s, dir), RateLimit.defaultRules(150L, 120L))
      dropped.select(col("conv_id"), col("turn_idx"), col("sink"))
    }),
    // F2: idempotent-resume anti-join against a committed-keys manifest
    "q_resume_antijoin" -> ((s, dir) => {
      val r = routed(s, dir)
      val committed = r
        .filter(pmod(split(col("conv_id"), "-").getItem(1).cast("int"), lit(2)) === 0)
        .select(col("conv_id"), col("turn_idx"), col("sink"))
      r.join(committed, Seq("conv_id", "turn_idx", "sink"), "left_anti")
        .groupBy(col("sink")).agg(count(lit(1)).as("turns"))
    }),
    // §2.7 union: multi-source merge (events-derived turns ∪ documents-derived turns)
    "q_multisource" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(
        concat(lit("doc-"), lpad(col("doc_id").cast("string"), 5, "0")).as("conv_id"),
        lit(0).cast("int").as("turn_idx"),
        lit("user").as("role"),
        col("text").as("text"),
        lit("none").as("tool"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
      turns(s, dir).unionByName(docs)
        .groupBy(split(col("conv_id"), "-").getItem(0).as("source_kind"))
        .agg(count(lit(1)).as("n"), sum(octet_length(col("text"))).as("bytes"))
    }),

    // top-k: heaviest conversations by routed bytes (deterministic tie-break)
    "q_top_convs" -> ((s, dir) =>
      routed(s, dir)
        .groupBy(col("conv_id"))
        .agg(sum(octet_length(col("text"))).as("bytes"), count(lit(1)).as("turns"))
        .orderBy(col("bytes").desc, col("conv_id"))
        .limit(10)),

    // ---- training-data curation operators (documents/embeddings tables) ----
    // exact dedup: hash-groupBy on normalized-content fingerprint
    "q_dedup_exact" -> ((s, dir) =>
      ExactDedup.groups(s.read.parquet(s"$dir/documents.parquet"))),
    // MinHash+LSH near-dup candidate pairs, Jaccard-verified (rows-only check)
    "q_minhash_pairs" -> ((s, dir) =>
      MinHashLSH.nearDupPairs(s.read.parquet(s"$dir/documents.parquet"),
        MinHashLSH.Params(shingleWords = 3, numHashes = 32, bands = 8,
          verifyJaccard = Some(0.5)))
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000).cast("long").as("jaccard_milli"))),
    // SimHash per-doc signature via the custom codegen expression (rows-only)
    "q_simhash" -> ((s, dir) =>
      SimHashDedup.withSimhash(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("id").as("doc_id"), col("simhash"))),
    // exact n-gram Jaccard pairs with length-band blocking (rows-only)
    "q_ngram_jaccard" -> ((s, dir) =>
      NgramJaccard.pairs(s.read.parquet(s"$dir/documents.parquet"),
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000).cast("long").as("jaccard_milli"))),
    // near-dup GROUPS: pair list → connected components (large-star/small-star)
    // → one canonical id per transitive cluster. Oracle variant runs over the
    // exact n-gram Jaccard edges (DuckDB recomputes those; minhash it can't)
    "q_dedup_groups" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = NgramJaccard.pairs(docs, n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val comp = graft.dedup.Components.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("grp"))
    }),
    // same operator over MinHash-LSH edges — the scale path (rows-only)
    "q_dedup_groups_lsh" -> ((s, dir) =>
      graft.dedup.Components.dedupGroups(s.read.parquet(s"$dir/documents.parquet"),
        MinHashLSH.Params(shingleWords = 3, numHashes = 32, bands = 8,
          verifyJaccard = Some(0.5)))),
    // brute-force cosine top-k ANN baseline (rows-only; floats)
    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.bruteForceTopK(emb.filter(col("vec_id") < 16), emb, k = 5)
        .select(col("query_id"), col("cand_id"), col("rank"))
    }),
    // LSH-bucketed ANN — the scale path (rows-only). The fixture has no
    // natural near-dups (max pairwise cosine ≈ 0.51), so deterministic
    // clones are planted — the pairs an LSH index exists to find; identical
    // vectors share every band, so each query finds its clone at rank 1.
    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val clones = emb.filter(col("vec_id") < 16)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
      Ann.lshTopK(emb.filter(col("vec_id") < 16), emb.unionByName(clones), k = 5)
        .select(col("query_id"), col("cand_id"), col("rank"))
    }),
    // IVF ANN — coarse k-means quantizer + probed exact rerank (rows-only)
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val m = graft.similarity.Ivf.train(emb, nLists = 16)
      graft.similarity.Ivf.topK(emb.filter(col("vec_id") < 16), emb, m, k = 5, nProbe = 4)
        .select(col("query_id"), col("cand_id"), col("rank"))
    }),
    // product-quantization ANN — 8-byte codes scan + exact rerank (rows-only)
    "q_ann_pq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val m = graft.similarity.Pq.train(emb)
      graft.similarity.Pq.topK(emb.filter(col("vec_id") < 16), emb, m,
          k = 5, shortlist = 64)
        .select(col("query_id"), col("cand_id"), col("rank"))
    }),
    // IVF-PQ: probed inverted lists scored from 8-byte codes (rows-only)
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val ivf = graft.similarity.Ivf.train(emb, nLists = 16)
      val pq = graft.similarity.Pq.train(emb)
      graft.similarity.Pq.ivfPqTopK(emb.filter(col("vec_id") < 16), emb, ivf, pq,
          k = 5, nProbe = 4, shortlist = 64)
        .select(col("query_id"), col("cand_id"), col("rank"))
    }),
    // embedding-cosine near-dup pairs, exact all-pairs (DuckDB-oracled)
    "q_cos_neardup" -> ((s, dir) =>
      Ann.exactNearDupPairs(s.read.parquet(s"$dir/embeddings.parquet"),
          threshold = 0.3)
        .select(col("id_a"), col("id_b"))),
    // embedding-cosine near-dup via LSH bucketing — the scale path (rows-only;
    // AnnSpec asserts it is a subset of the exact pairs with bounded recall).
    // Clones planted as above (no natural near-dups in the fixture): every
    // cloned pair is identical ⇒ shares every band ⇒ exactly 500 rows.
    "q_cos_neardup_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val clones = emb
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
      Ann.cosineNearDupPairs(emb.unionByName(clones), threshold = 0.95)
        .select(col("id_a"), col("id_b"))
    }),
    // token counting: whitespace + BPE-ish regex
    "q_token_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishCount(col("text")).as("n_bpeish"))),
    // quality scoring: length/punct/stopword features
    "q_quality" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_tokens"), col("punct_cnt"),
          col("stopword_kinds"), col("avg_token_len"), col("quality_score"))),
    // language-ID heuristic (marker-word argmax)
    "q_langid" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"), TextAnalysis.langGuess(col("text")).as("lang_guess"))),
    // PII/URL scrubbing projection over documents + parsed-turn payloads
    "q_scrub" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"), TextAnalysis.scrub(col("text")).as("scrubbed"))),
    // token-count histogram (bucketed distribution, exact)
    "q_token_hist" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy((floor(TextAnalysis.tokenCount(col("text")) / 10) * 10).as("bucket"))
        .agg(count(lit(1)).as("n_docs"))),
    // EXACT set-similarity self-join via prefix filtering (AllPairs/PPJoin
    // family, graft.dedup.SetSimJoin): every doc pair whose distinct
    // 8-gram shingle sets have Jaccard >= 0.5 — no false negatives, unlike
    // the LSH family; integer-milli thresholds, naive-join oracle proves
    // completeness + exactness on the real corpus
    "q_setsim" -> ((s, dir) =>
      graft.dedup.SetSimJoin.jaccardPairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        n = 8, tMilli = 500)),
    // exact heavy hitters at bounded memory (graft.agg.HeavyHitters): a
    // Misra-Gries summary pass (O(k) mergeable state, guaranteed to hold
    // every item above n/k) + one candidate-only exact count — two scans
    // and a <=k-1-key shuffle where naive exact shuffles every distinct
    // key; the oracle is the naive GROUP BY ... HAVING, so the green hash
    // proves the bounded-memory path is exactly the exact answer
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      graft.agg.HeavyHitters.exactTop(toks, "w", k = 40)
    }),
    // deterministic weighted sampling WITHOUT replacement (Efraimidis-
    // Spirakis): key = ln(u)/w with u derived from md5(id, salt), top-k by
    // key — inclusion proportional to n_chars, zero RNG state, the verdict
    // is a pure projection (TextAnalysis.weightedSample; TakeOrdered, no
    // global sort)
    "q_weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSample(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "n_chars",
        k = 100)),
    // per-doc unigram Shannon entropy in integer micro-nats — the
    // diversity/repetitiveness quality signal (keyword-stuffed pages score
    // low with zero verbatim n-gram repeats); per-term contributions
    // floored on their own (doc, token) row, integer-summed per doc
    "q_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(s.read.parquet(s"$dir/documents.parquet"))),
    // PMI collocation mining (graft.text.Collocations): adjacent token
    // pairs scored ln(p(a,b)/(p(a)p(b))) in floor'd integer milli-units —
    // association mining for phrase vocabularies / tokenizer merges; one
    // fixed double-op order mirrored by the oracle, exact bigint counts
    "q_pmi" -> ((s, dir) =>
      graft.text.Collocations.pmi(
        s.read.parquet(s"$dir/documents.parquet"), "text", minCount = 5)),
    // train/test contamination check (graft.text.Contamination): per test
    // doc, the fraction of its distinct 8-gram shingles covered by the
    // train split's shingle SET — the decontamination gate before trusting
    // an eval split; same corpus split as q_bloom_incremental, integer
    // milli scores, codegen word_shingles kernel
    "q_ngram_coverage" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Contamination.overlap(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", n = 8)
    }),
    // relational inverted index: (term, doc_id, tf, df) postings with
    // min-df and max-df-percent stopword cutoffs (graft.text.Search —
    // rows not arrays so hot terms shuffle-balance; df via a window over
    // the already-aggregated (term, doc) pairs)
    "q_postings" -> ((s, dir) =>
      graft.text.Search.postings(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", minDf = 5, maxDfPercent = 78)),
    // BM25 ranked retrieval, integer milli-point scores: per-term
    // contributions floor-scaled to bigint per ROW and summed as integer
    // columns — no double crosses rows, so ranking is deterministic and
    // DuckDB hash-matches (graft.text.Search.bm25TopK: one stats pass +
    // one TakeOrdered scan)
    "q_bm25" -> ((s, dir) =>
      graft.text.Search.bm25TopK(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", Seq("spark", "join", "window"), k = 20)),
    // document fingerprint: rolling hash over the token stream (rows-only)
    "q_fingerprint" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),
    // deterministic portable train/valid split (md5 hex-bucket, no RNG state)
    "q_split" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"),
        TextAnalysis.hashBucket(col("doc_id"), "split").as("bucket"),
        TextAnalysis.datasetSplit(col("doc_id")).as("split"))),
    // concat-and-chunk sequence packing (per-shard prefix-sum windows)
    "q_pack" -> ((s, dir) =>
      TextAnalysis.packs(s.read.parquet(s"$dir/documents.parquet"),
        maxTokens = 256, nShards = 8)),
    // deterministic export shuffle: md5-ordered per-shard training order
    "q_export_order" -> ((s, dir) =>
      TextAnalysis.exportOrder(s.read.parquet(s"$dir/documents.parquet"),
        nShards = 8)),
    // Unicode NFC canonicalization (custom codegen kernel; DuckDB twin)
    "q_normalize" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"),
        graft.functions.NormalizeFunctions.nfc_normalize(col("text")).as("normalized"))),
    // train/valid contamination scan: rare-5-gram overlap across the split
    "q_contamination" -> ((s, dir) =>
      TextAnalysis.splitContamination(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("train_id"), col("valid_id"), col("shared"))),
    // per-language quality quota: stratified top-K per detected language
    // (the curation step that caps dominant languages while keeping the best
    // of the rest — a window per lang partition, parallel across languages)
    "q_lang_quota" -> ((s, dir) => {
      val q = TextAnalysis.qualityFeatures(s.read.parquet(s"$dir/documents.parquet"))
        .withColumn("lang", TextAnalysis.langGuess(col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      q.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("doc_id"), col("lang"), col("quality_score"), col("rk"))
    }),
    // repetition/boilerplate signals (duplicate-token/-line basis points)
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionFeatures(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("dup_token_bp"), col("dup_line_bp"))),
    // gap-based conversation sessionization (24h gap; lag -> flag -> running
    // sum, one exchange) with per-session rollup
    "q_sessions" -> ((s, dir) =>
      graft.agg.Sessionize.sessions(Transcripts.fromEvents(s, dir))),
    // session-aware packing: sessionization composed into the curation
    // packer at session granularity — a session never splits across packs
    "q_session_pack" -> ((s, dir) =>
      graft.agg.Sessionize.sessionPacks(Transcripts.fromEvents(s, dir),
        maxTokens = 512, nShards = 8)),
    // the FULL curation DAG in one declarative plan: dedup -> quality gate
    // -> lang ID -> mix sample -> scrub -> split -> export shuffle ->
    // per-split packing in export order (every stage's oracle composed into
    // one end-to-end DuckDB twin)
    "q_curation_full" -> ((s, dir) =>
      graft.text.Curation.run(s.read.parquet(s"$dir/documents.parquet"),
        graft.text.Curation.Config(maxTokens = 256))),
    // substring-level duplication (fixed-granularity suffix-array dedup
    // signal): tokens covered by any cross-doc duplicated 4-gram
    "q_dup_spans" -> ((s, dir) =>
      TextAnalysis.duplicatedSpans(
          s.read.parquet(s"$dir/documents.parquet"), w = 4)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
          col("dup_span_bp"))),
    // corpus-frequency unit stripping (C4 boilerplate removal family).
    // Word mode here — the fixture has no line structure; line mode (the
    // cookie-banner case) is proven on handcrafted docs in TextAnalysisSpec
    "q_boilerplate" -> ((s, dir) =>
      TextAnalysis.stripFrequentUnits(
        s.read.parquet(s"$dir/documents.parquet"), minDf = 390, sep = " ")),
    // deterministic stratified downsampling to a target language mix
    // (md5-bucket verdicts — same kept set on any engine/cluster/rerun)
    "q_mix_sample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("lang_guess", TextAnalysis.langGuess(col("text")))
      TextAnalysis.stratifiedSample(docs, "lang_guess",
          Map("en" -> 0.5, "und" -> 0.25), defaultRate = 1.0, salt = "mix")
        .select(col("doc_id"), col("lang_guess"),
          TextAnalysis.hashBucket(col("doc_id"), "mix").as("bucket"))
    }),
    // corpus-wide n-gram frequency (top bigrams, deterministic tie-break) —
    // the heavy explode+aggregate shape a contamination/boilerplate scan runs
    // at corpus scale; map-side combine keeps the shuffle at distinct-ngram
    // cardinality, not token count
    "q_top_ngrams" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode_outer(MinHashLSH.shingles(col("text"), 2)).as("ngram"))
        .filter(col("ngram").isNotNull)
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)),
    // composite curation pipeline: exact-dedup -> quality gate -> PII scrub,
    // one declarative plan end to end
    "q_curation" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val deduped = ExactDedup.dedup(docs)
      TextAnalysis.qualityFeatures(deduped)
        .filter(col("quality_score") >= 300)
        .select(col("doc_id"), TextAnalysis.scrub(col("text")).as("scrubbed"))
    }),
    // ---- relational join analytics over the TPC-H-shaped tables ----
    // (graft.relational.Tpch — multi-way joins, dim broadcasts, top-k,
    //  anti-join; money flows as integer cents for cross-engine exactness)
    "q_tpch_pricing" -> ((s, dir) => Tpch.pricingSummary(s, dir)),
    "q_tpch_revenue" -> ((s, dir) => Tpch.revenueByPriority(s, dir)),
    "q_tpch_top_customers" -> ((s, dir) => Tpch.topCustomers(s, dir)),
    "q_tpch_nation_volume" -> ((s, dir) => Tpch.nationVolume(s, dir)),
    "q_tpch_idle_customers" -> ((s, dir) => Tpch.customersWithoutBigOrders(s, dir)),
    // left-SEMI join (TPC-H Q4 EXISTS shape): ships keys only, no fact⋈fact
    // row multiplication
    "q_tpch_waiting_orders" -> ((s, dir) => Tpch.ordersWithReturns(s, dir)),
    // rollup / grouping-sets aggregate: 3 grouping levels in ONE pass
    "q_tpch_rollup" -> ((s, dir) => Tpch.revenueRollup(s, dir)),
    // CUBE: all four (status, priority) grouping sets in one Expand pass,
    // grouping_id() disambiguating superaggregates (bit order oracle-checked
    // against DuckDB GROUPING())
    "q_tpch_cube" -> ((s, dir) => Tpch.revenueCube(s, dir)),
    // bucketed co-located fact join: the ingest-prepaid shuffle — the join
    // itself runs with zero exchange and zero sort (plan-asserted in
    // TpchSpec); same SQL semantics as the plain join, so the oracle is free
    "q_tpch_bucketed_revenue" -> ((s, dir) => Tpch.revenueByPriorityBucketed(s, dir)),
    // per-group top-k: rank window + filter, WindowGroupLimit bounds every
    // map task to k rows per group BEFORE the shuffle (plan-asserted)
    "q_top_orders_per_segment" -> ((s, dir) => Tpch.topOrdersPerSegment(s, dir)),
    // dynamic partition pruning: the hot-month dim exists only at runtime
    // (rank over a whole-table aggregate), yet the partitioned fact scan
    // reads ONLY those months' directories — DPP plan + partitions-read
    // metric asserted in DppSpec; ingest (partitioned layout) is prepaid
    "q_dpp_hot_months" -> ((s, dir) => Tpch.revenueHotMonths(s, dir)),
    // ---- temporal joins (graft.temporal.TemporalJoin) ----
    // as-of join: each event picks the latest config snapshot at-or-before
    // its timestamp — broadcast variant (snapshot history is small by
    // construction), codegen binary search per probe row, zero probe-side
    // shuffle; DuckDB's native ASOF JOIN is the oracle
    "q_asof_config" -> ((s, dir) =>
      TemporalJoin.asofJoinBroadcast(eventsUs(s, dir), configSnaps(s, dir),
          keys = Seq("event_type"), probeTs = "e_us", buildTs = "snap_us")
        .filter(col("version").isNotNull) // inner-as-of: drop pre-first-snapshot events
        .groupBy(col("event_type"), col("version"))
        .agg(count(lit(1)).as("n_events"))),
    // the SAME as-of join routed through SQL TEXT: the operator library's
    // table-function surface (GraftTableFunctions via GraftExtensions) —
    // `FROM asof_join_broadcast(...)` resolves the registered views and
    // hands back the identical plan the Column API builds; oracle is the
    // same DuckDB native ASOF JOIN
    "q_asof_sql" -> ((s, dir) => {
      GraftExtensions.register(s) // idempotent re-registration
      eventsUs(s, dir).createOrReplaceTempView("graft_events_us")
      configSnaps(s, dir).createOrReplaceTempView("graft_config_snaps")
      s.sql("""SELECT event_type, version, count(*) AS n_events
               FROM asof_join_broadcast('graft_events_us', 'graft_config_snaps',
                                        'event_type', 'e_us', 'snap_us')
               WHERE version IS NOT NULL
               GROUP BY event_type, version""")
    }),
    // binned range join: points⋈intervals containment without an inequality
    // join — intervals explode to 1h buckets, equi-join on (type, bucket),
    // exact filter after (plan has zero nested-loop/cartesian joins)
    "q_range_windows" -> ((s, dir) =>
      TemporalJoin.rangeJoin(
          eventsUs(s, dir),
          configSnaps(s, dir).select(col("event_type"), col("version"),
            col("snap_us").as("w_start"),
            (col("snap_us") + WindowLenUs).as("w_end")),
          keys = Seq("event_type"), pointTs = "e_us",
          startTs = "w_start", endTs = "w_end", bucketWidth = 3600000000L)
        .groupBy(col("event_type"), col("version"))
        .agg(count(lit(1)).as("n_in_window"),
          countDistinct(col("user_id")).as("n_users"))),
    // interval⋈interval overlap join (session⋈outage shape): per-user
    // activity spans against config windows — both sides binned to 6 h
    // buckets, equi-join + exact overlap filter, each overlapping pair
    // emitted exactly once via the first-overlap-bucket trick (no dedup
    // pass, no nested-loop join; DuckDB inequality join is the oracle)
    "q_overlap_sessions" -> ((s, dir) => {
      val spans = eventsUs(s, dir).groupBy(col("event_type"), col("user_id"))
        .agg(min(col("e_us")).as("span_start"), max(col("e_us")).as("span_end"))
      val wins = configSnaps(s, dir).select(col("event_type"), col("version"),
        col("snap_us").as("w_start"), (col("snap_us") + WindowLenUs).as("w_end"))
      TemporalJoin.overlapJoin(spans, wins, Seq("event_type"),
          lStart = "span_start", lEnd = "span_end",
          rStart = "w_start", rEnd = "w_end", bucketWidth = SnapBucketUs)
        .groupBy(col("event_type"), col("version"))
        .agg(count(lit(1)).as("n_spans"),
          sum(least(col("span_end"), col("w_end")) -
            greatest(col("span_start"), col("w_start"))).as("overlap_us"))
    }),
    // sweep-line interval density: concurrent active (event_type, user)
    // spans per hour — 2 delta rows per interval regardless of length, then
    // a TWO-LEVEL distributed prefix sum (block windows in parallel + one
    // global window over #blocks rows) instead of the single-partition
    // global window the naive cumsum plans (graft.temporal.Sweep); the
    // oracle IS that naive global window, so the green hash proves the
    // distributed decomposition == the serial scan
    "q_interval_density" -> ((s, dir) => {
      val spans = eventsUs(s, dir).groupBy(col("event_type"), col("user_id"))
        .agg(min(col("e_us")).as("span_start"), max(col("e_us")).as("span_end"))
      graft.temporal.Sweep.activeIntervals(spans, "span_start", "span_end",
        bucketWidth = 3600000000L, blockBuckets = 64)
    }),
    // time-series resample + fill-forward: each user's irregular event
    // stream onto a fixed 6 h grid, every grid point carrying the latest
    // observation at-or-before it (graft.temporal.Series — grid explode
    // guarded per key, fill via the as-of union form's ONE key shuffle);
    // oracle is DuckDB generate_series + native ASOF JOIN, a genuinely
    // independent formulation of both halves
    "q_resample" -> ((s, dir) => {
      val obs = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_id").as("src_event_id"),
          floor(col("value") * 100).cast("long").as("value_cents"))
      graft.temporal.Series.fillForward(obs, Seq("user_id"), "ts_us",
        stepUs = 21600000000L)
    }),
    // monotone-counter increase with reset detection (the Prometheus
    // increase() primitive over the reference's bucket-counter shape): a
    // deterministic counter with resets is synthesized per user (row_number
    // % 7), the operator recovers per-interval growth crediting post-reset
    // climbs (graft.temporal.Series.counterIncrease — ONE window per key);
    // oracle recomputes with DuckDB's own window stack
    "q_counter_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val evs = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .withColumn("counter",
          (row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts_us"), col("event_id"))) % 7)
            .cast("long"))
      // event_id tie-breaks both windows (repo convention): no fixture has a
      // tied (user_id, ts) today, but the compared output must stay
      // deterministic if one ever does
      graft.temporal.Series.counterIncrease(evs, Seq("user_id"), "ts_us", "counter",
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("counter"), col("increase"))
    }),
    // first-order event-transition matrix per user (graft.agg.Transitions):
    // consecutive event_type hops ordered by (ts, event_id), counts +
    // integer milli-probabilities per from-state row — the clickstream
    // Markov primitive complementing the declared-path funnel
    "q_transitions" -> ((s, dir) => {
      val evs = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      graft.agg.Transitions.matrix(evs, Seq("user_id"),
        Seq("ts_us", "event_id"), "event_type")
    }),
    // rolling median/MAD anomaly flags on per-(type, hour) volumes — the
    // self-baselining form of the reference limiter's fixed-threshold
    // alerting (graft.temporal.Anomaly; ONE window per key, integer-exact
    // 2·median / 4·MAD arithmetic is what makes the DuckDB hash match);
    // warm-up rows are filtered on both sides, flatline MAD=0 windows are in
    "q_anomaly" -> ((s, dir) => {
      val series = s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      graft.temporal.Anomaly.madFlags(series, Seq("event_type"), Seq("hr"),
          "cnt", window = 24, k = 6)
        .filter(col("mad4").isNotNull)
        .select(col("event_type"), col("hr"), col("cnt"), col("med2"),
          col("dev2"), col("mad4"), col("anomaly"))
    }),
    // CDC changelog compaction (MERGE INTO shape): winner-per-key via a
    // WindowGroupLimit-bounded rank, one anti-join + union — the nightly
    // snapshot-maintenance job (graft.cdc.Cdc); changelog derived
    // deterministically from orders (updates %7, deletes %11 at higher seq,
    // inserts %13 under shifted keys — %77 keys exercise seq-order wins)
    "q_cdc_upsert" -> ((s, dir) => {
      val snap = cdcSnapshot(s, dir)
      graft.cdc.Cdc.applyChangelog(snap, cdcChangelog(snap),
        keys = Seq("o_orderkey"), seqCol = "seq", opCol = "op")
    }),
    // snapshot DIFF — the inverse of the MERGE: one full-outer key join +
    // null-safe struct comparison manufactures the minimal I/U/D changelog
    // between two full dumps (the vendor-feed reality); oracle recomputes
    // the new snapshot independently and diffs it in SQL
    "q_cdc_diff" -> ((s, dir) => {
      val snap = cdcSnapshot(s, dir)
      val next = graft.cdc.Cdc.applyChangelog(snap, cdcChangelog(snap),
        keys = Seq("o_orderkey"), seqCol = "seq", opCol = "op")
      graft.cdc.Cdc.diffSnapshots(snap, next, keys = Seq("o_orderkey"))
    }),
    // SCD2 dimension-history build: changelog → validity intervals
    // (valid_from / valid_to / is_current) via ONE key window + lead() —
    // the producer of the histories the as-of join consumes (Scd2Spec
    // proves as-of == interval-containment on this output); DuckDB lead()
    // is the oracle, open versions carry a max-long sentinel end
    "q_scd2" -> ((s, dir) => {
      val ch = configSnaps(s, dir)
        .withColumn("op", lit("U")).withColumn("seq", col("snap_us"))
      graft.cdc.Scd2.fromChangelog(ch, keys = Seq("event_type"),
          seqCol = "seq", opCol = "op", tsCol = "snap_us")
        .select(col("event_type"), col("version"), col("valid_from"),
          coalesce(col("valid_to"), lit(Long.MaxValue)).as("valid_to"),
          col("is_current"))
    }),
    // Bloom-accelerated incremental dedup: EXACT anti-join result, with a
    // distributed Bloom sketch keeping provably-new rows out of the shuffle
    // (graft.dedup.BloomDedup; oracle is the plain NOT IN)
    "q_bloom_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.dedup.BloomDedup.newDocs(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0), textCol = "text")
        .select(col("doc_id"))
    }),
    // sketch aggregates: HLL distinct + KLL-style quantiles — mergeable
    // fixed-size state per group, the only shapes that survive 100 TB
    // cardinality/quantile questions (rows-only: DuckDB's sketches differ;
    // SketchSpec bounds the error vs exact)
    "q_approx_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
          floor(percentile_approx(col("value"), lit(0.5), lit(10000)) * 1000)
            .cast("bigint").as("p50_milli"),
          floor(percentile_approx(col("value"), lit(0.95), lit(10000)) * 1000)
            .cast("bigint").as("p95_milli"))),
    // one-pass table profile: the ingestion-QA stats block (row/distinct
    // counts, ranges, null tallies) every pipeline runs before trusting a
    // drop — one aggregate, no second scan per stat
    "q_profile" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_custkeys"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        min(col("o_orderkey")).as("min_okey"),
        max(col("o_orderkey")).as("max_okey"),
        floor(min(col("o_totalprice")) * 100).cast("bigint").as("min_price_cents"),
        floor(max(col("o_totalprice")) * 100).cast("bigint").as("max_price_cents"),
        count(when(col("o_orderpriority").isNull, 1)).as("null_priorities"),
        min(unix_micros(col("o_orderdate").cast("timestamp"))).as("min_date_us"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("max_date_us"))),
    // declarative data-quality expectations (the Deequ/Great-Expectations
    // shape; data analog of the reference's F5 config Validate): N checks
    // compiled into ONE aggregation pass with exact integer-ppm verdicts
    // (graft.quality.Expectations); the oracle recomputes every verdict
    // from independent SQL aggregates. Suite deliberately mixes passing
    // and failing checks so both verdict paths are hash-compared.
    "q_expectations" -> ((s, dir) => {
      import graft.quality.Expectations._
      graft.quality.Expectations.validate(
        s.read.parquet(s"$dir/documents.parquet"), Seq(
          Complete("text", 0.95),
          Unique("doc_id"),
          Unique("source"),
          InRange("n_chars", 1, 400),
          Matches("lang", "^[a-z]{2}$"),
          OneOf("source", (0 until 10).map(i => s"src$i"))))
    }),
    // integer-deterministic PageRank over the supplier<->customer activity
    // graph (distinct lineitem x orders pairs, symmetrized so nothing
    // dangles): 5 synchronous iterations of bigint fixed-point updates —
    // floor division everywhere, so results are bit-identical under any
    // reshuffle and an unrolled 5-stage DuckDB oracle twins them exactly
    // (graft.graph.PageRank; inputs lazily checkpointed once, referenced
    // per iteration)
    "q_pagerank" -> ((s, dir) => {
      // round 7: the edge DERIVATION rides the bucketed fact twins (the
      // same ingest-prepaid tables as q_tpch_bucketed_revenue), so the
      // lineitem⋈orders join runs with zero exchange and zero sort; the
      // merge hint pins the SMJ for the same reason as the revenue twin
      // (a size-estimate broadcast would discard the prepaid clustering).
      // The pair set is distinct and the 's'/'c' namespaces are disjoint,
      // so the symmetrized union is provably duplicate-free —
      // assumeDistinct skips ranks' internal dedup exchange (a second
      // full-edge-set shuffle that rediscovered what this derivation
      // already guarantees). Same rows as the round-6 formulation; the
      // unrolled DuckDB oracle is unchanged and still hash-matches.
      val (or0, li0) = Tpch.bucketedFactFrames(s, dir)
      val li = li0.select(col("l_orderkey"), col("l_suppkey"))
      val or = or0.select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.hint("merge").join(or, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("a"),
          concat(lit("c"), col("o_custkey")).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      graft.graph.PageRank.ranks(edges, iters = 5, assumeDistinct = true)
    }),
    // profile drift between two snapshots (graft.quality.Drift): the before
    // profile is the raw documents table, the after is a deterministic
    // "next drop" — 10% of rows gone, lang nulled on every 7th doc, source
    // dropped, n_tokens added — exercising added/dropped/drifted/stable in
    // one verdict table. Exact-distinct mode for oracle parity; integer
    // basis-point math throughout
    "q_drift" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val before = graft.quality.Drift.profile(docs, exactDistinct = true)
      val mutated = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("lang", when(col("doc_id") % 7 === 0,
          lit(null).cast("string")).otherwise(col("lang")))
        .drop("source")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("bigint"))
      val after = graft.quality.Drift.profile(mutated, exactDistinct = true)
      graft.quality.Drift.drift(before, after)
    }),
    // Z-order (Morton) key: the multi-dimension data-skipping sort key —
    // bit-spread via shiftleft/bitwiseAND built-ins, engine-exact integer
    // arithmetic (graft.layout.ZOrder; the layout effect is measured in
    // ZOrderSpec, the key itself oracled here)
    "q_zorder" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          (expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 65536).as("xa"),
          (col("user_id") % 65536).as("xb"))
      e.select(col("event_id"), graft.layout.ZOrder.zorder2(col("xa"), col("xb")))
    }),
    // file-level data skipping over the z-ordered layout: a 2-D box
    // predicate opens only the files whose stats manifest box intersects
    // (graft.layout.Skipping; ingest — z-write + manifest — runs once per
    // sf dir, the ensureBucketedFacts pattern). The oracle is the plain
    // full-scan filter, so the green hash proves pruning soundness on the
    // real layout; SkippingSpec measures the effectiveness
    "q_skipping_read" -> ((s, dir) => {
      val zdir = ensureZOrderedEvents(s, dir)
      graft.layout.Skipping.prunedRead(s, zdir,
        Seq(("hr", 473400L, 473449L), ("user_id", 10L, 59L)))
        .select(col("event_id"), col("user_id"), col("hr"))
    }),
    // per-file bloom-index point lookup (graft.layout.BloomIndex): an
    // IN-list on event_id — high-cardinality and NOT a clustering key, the
    // predicate min/max boxes can't prune — opens only bloom-positive files
    // of the z-ordered layout. Oracle is the plain full-scan IN filter, so
    // the green hash proves no-false-negative pruning + exact residual on
    // the real layout; BloomIndexSpec measures the file-count effectiveness
    "q_bloom_lookup" -> ((s, dir) => {
      val zdir = ensureZOrderedEvents(s, dir)
      graft.layout.BloomIndex.lookup(s, zdir, "event_id", BloomLookupIds)
        .select(col("event_id"), col("user_id"), col("hr"))
    }),
    // small-file compaction (graft.layout.Compact): a 64-tiny-file events
    // copy is bin-packed to ~4 target-sized files; the oracle is the plain
    // table, so the green hash proves the rewrite is content-preserving.
    // File-count/no-op/clustered-re-compaction mechanics are CompactSpec's
    "q_compact" -> ((s, dir) => {
      val cdir = ensureCompactedEvents(s, dir)
      s.read.parquet(cdir).select(col("event_id"), col("user_id"))
    }),
    // cohort retention matrix: window cohort anchor + distinct-count per
    // (cohort, offset) — the retention-curve backbone (graft.agg.Retention)
    "q_retention" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
      graft.agg.Retention.cohortMatrix(e, col("user_id"), col("day"))
    }),
    // size-proportional systematic sampling: deterministic PPS via stride
    // boundaries in the per-shard token layout (no RNG, integer-only)
    "q_sample_pps" -> ((s, dir) =>
      TextAnalysis.samplePps(s.read.parquet(s"$dir/documents.parquet"),
        strideTokens = 256, nShards = 8)),
    // incremental aggregate MAINTENANCE: the post-changelog (count, sum)
    // aggregate produced from the OLD aggregate + deltas — the snapshot is
    // probed once with a broadcast winner set, never shuffled or
    // re-aggregated; the oracle recomputes from scratch, so equality proves
    // the incremental path (graft.cdc.Cdc.maintainCountSum)
    "q_incr_agg" -> ((s, dir) => {
      val snap = cdcSnapshot(s, dir)
      val oldAgg = snap.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price_cents")).as("revenue_cents"))
      graft.cdc.Cdc.maintainCountSum(oldAgg, snap, cdcChangelog(snap),
        keys = Seq("o_orderkey"), groupCol = "o_orderstatus",
        valueCol = "price_cents", seqCol = "seq", opCol = "op",
        cntName = "n_orders", sumName = "revenue_cents")
    }),
    // multi-measure incremental maintenance: count + TWO sums kept in the
    // same single broadcast-probe pass, avg DERIVED from the maintained
    // (count, sum) pair in the projection — the oracle recomputes everything
    // from scratch, so equality proves counts, both sums and the derived avg
    "q_incr_agg_multi" -> ((s, dir) => {
      val snap = cdcSnapshot(s, dir).withColumn("units", col("o_orderkey") % 100)
      val oldAgg = snap.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("revenue_cents"),
          sum(col("units")).as("total_units"))
      graft.cdc.Cdc.maintainAggs(oldAgg, snap, cdcChangelog(snap),
          keys = Seq("o_orderkey"), groupCol = "o_orderstatus",
          measures = Seq("price_cents" -> "revenue_cents", "units" -> "total_units"),
          seqCol = "seq", opCol = "op", cntName = "n_orders")
        .withColumn("avg_price_milli",
          expr("cast(revenue_cents * 1000 div n_orders as bigint)"))
    }),
    // ordered-funnel analysis (graft.agg.Funnel): per (user, day), furthest
    // stage of view→click→purchase in event order — N chained running-min
    // windows over ONE exchange; depth histogram as output
    "q_funnel" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("e_us"))
      graft.agg.Funnel.depth(e,
          entity = col("user_id") * 100000L + expr("e_us div 86400000000L"),
          stageType = col("event_type"), ts = col("e_us"), tie = col("event_id"),
          stages = Seq("view", "click", "purchase"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_entities"))
    }),
    // edit-distance refinement of the n-gram Jaccard candidate pairs:
    // levenshtein runs only on the blocked candidate set (never N²), on
    // 80-char prefixes — the verify stage of a fuzzy-dedup chain
    "q_edit_refine" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = NgramJaccard.pairs(docs, n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val pfx = docs.select(col("doc_id"), substring(col("text"), 1, 80).as("pfx"))
      pairs
        .join(pfx.select(col("doc_id").as("id_a"), col("pfx").as("pfx_a")), Seq("id_a"))
        .join(pfx.select(col("doc_id").as("id_b"), col("pfx").as("pfx_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("pfx_a"), col("pfx_b")).as("edit_dist"))
        .filter(col("edit_dist") <= 20)
    }),
    // pivot with EXPLICIT values (no driver-side distinct pre-scan): hourly
    // activity matrix, one codegen'd aggregate pass
    "q_pivot_type_hours" -> ((s, dir) => {
      val hours = s.read.parquet(s"$dir/events.parquet")
        .select(hour(col("ts").cast("timestamp")).as("hour"), col("event_type"))
      val p = hours.groupBy(col("hour")).pivot("event_type", EventTypes).agg(count(lit(1)))
      // pivot yields null (not 0) for empty cells; the oracle's FILTER counts 0
      p.select(col("hour") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    // multimodal plumbing: REAL image/audio decode (JDK ImageIO + WAV RIFF
    // parse), video stubbed — typed features (rows-only)
    "q_multimodal" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticAssets(s, 300)).toDF()
        .select(col("asset_id"), col("kind"), col("ok"), col("checksum"))),
    // video frame sampling over binary assets — REAL frames since round 4:
    // MJPEG-AVI container walk + per-frame JPEG decode, checksummed over
    // decoded pixels (rows-only)
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.sampleVideoFramesDecoded(Multimodal.syntheticAssets(s, 300), everyMs = 500)
        .groupBy(col("asset_id")).agg(count(lit(1)).as("n_frames"),
          min(col("checksum")).as("cs_min"))),
    // perceptual near-dup over DECODED media: thumbnail / loudness-envelope
    // embeddings through the cosine-LSH band join (rows-only — DuckDB has no
    // PNG/WAV decoder; MultimodalSpec proves subset-of-exact + planted recall)
    "q_image_neardup" -> ((s, dir) =>
      Multimodal.mediaNearDupPairs(
          Multimodal.syntheticAssets(s, 300, dupCycle = 25), "image", threshold = 0.999)
        .select(col("id_a"), col("id_b"),
          floor(col("cos") * lit(10000)).cast("long").as("cos_bp"))),
    "q_audio_neardup" -> ((s, dir) =>
      Multimodal.mediaNearDupPairs(
          Multimodal.syntheticAssets(s, 300, dupCycle = 25), "audio", threshold = 0.999)
        .select(col("id_a"), col("id_b"),
          floor(col("cos") * lit(10000)).cast("long").as("cos_bp"))),
    // REAL video near-dup (round 4): MJPEG-AVI decode → temporal-mean frame
    // thumbnails → cosine-LSH; stub features are fenced out by the `real`
    // provenance flag (rows-only)
    "q_video_neardup" -> ((s, dir) =>
      Multimodal.mediaNearDupPairs(
          Multimodal.syntheticAssets(s, 300, dupCycle = 25), "video", threshold = 0.999)
        .select(col("id_a"), col("id_b"),
          floor(col("cos") * lit(10000)).cast("long").as("cos_bp"))),
    // media asset dedup groups: all three kinds' near-dup pairs (real
    // decodes only) → connected components → one keeper per duplicate
    // group, the media twin of q_dedup_groups (rows-only)
    "q_media_dedup_groups" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(s, 300, dupCycle = 25)
      val pairs = Seq("image", "audio", "video")
        .map(k => Multimodal.mediaNearDupPairs(assets, k, threshold = 0.999)
          .select(col("id_a"), col("id_b")))
        .reduce(_.unionByName(_))
      val comp = graft.dedup.Components.connectedComponents(pairs)
      assets.select(col("asset_id"), col("kind"))
        .join(comp, col("asset_id") === col("id"), "left")
        .select(col("asset_id"), col("kind"),
          coalesce(col("component"), col("asset_id")).as("group"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** q_pagerank's oracle, generated: recursive CTEs can't aggregate in the
    * recursive member (SQL standard), so the 5 synchronous iterations are
    * UNROLLED — r1..r5 are the same join-agg stage over the previous rank
    * table. Same integer floor arithmetic as graft.graph.PageRank. */
  private def pageRankOracle(iters: Int): String = {
    val head = """WITH pairs AS (
        SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (SELECT a AS src, b AS dst FROM pairs
            UNION ALL SELECT b AS src, a AS dst FROM pairs),
      outd AS (SELECT src, cast(count(*) AS bigint) AS outdeg FROM e GROUP BY 1),
      -- symmetric graph: every dst is also a src
      nodes AS (SELECT DISTINCT src AS node FROM e),
      nn AS (SELECT cast(count(*) AS bigint) AS n FROM nodes),
      r0 AS (SELECT node, cast(1000000000000 // n AS bigint) AS rank
             FROM nodes CROSS JOIN nn)"""
    val stages = (1 to iters).map { i =>
      s""",
      r$i AS (
        SELECT nodes.node,
          cast((1000000000000 * 15) // (100 * nn.n)
            + 85 * coalesce(s.in_sum, 0) // 100 AS bigint) AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
          SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_sum
          FROM e JOIN outd o ON e.src = o.src JOIN r${i - 1} r ON r.node = e.src
          GROUP BY 1) s ON s.node = nodes.node)"""
    }.mkString
    s"$head$stages\n      SELECT node, rank FROM r$iters"
  }

  def oracleSql: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracle(5),
    "q_turns" -> Oracles.withPipeline(
      "SELECT conv_id, turn_idx, role, text, tool FROM turns"),
    "q_parse_stats" -> Oracles.withPipeline(
      """SELECT level, status, count(*) AS n,
         cast(sum(dur_ms) AS bigint) AS total_dur
         FROM turns GROUP BY level, status"""),
    "q_route_counts" -> Oracles.withPipeline(
      "SELECT sink, count(*) AS turns FROM routed GROUP BY sink"),
    "q_routed_rows" -> Oracles.withPipeline(
      "SELECT conv_id, turn_idx, sink, text FROM routed"),
    "q_sink_agg" -> Oracles.withPipeline(
      """SELECT sink, count(*) AS turns,
         cast(sum(strlen(text)) AS bigint) AS bytes,
         count(DISTINCT conv_id) AS convs
         FROM routed GROUP BY sink"""),
    "q_conv_spans" -> Oracles.withPipeline(
      """SELECT conv_id, min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
         count(*) AS n_turns FROM turns GROUP BY conv_id"""),
    "q_sink_conv_spans" -> Oracles.withPipeline(
      """SELECT sink, conv_id, min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
         count(*) AS n_turns FROM routed GROUP BY sink, conv_id"""),
    "q_conv_window" -> Oracles.withPipeline(
      """SELECT conv_id, turn_idx,
         count(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_turns,
         lag(role, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
         FROM turns"""),
    "q_redact" -> Oracles.withPipeline(
      """SELECT conv_id, turn_idx,
         CASE WHEN redact THEN '<redacted:' || cast(strlen(payload) AS varchar) || '>'
              ELSE payload END AS payload_out
         FROM turns LEFT JOIN tool_dim USING (tool)"""),
    "q_json_format" -> Oracles.withPipeline(
      """SELECT conv_id, turn_idx,
         '{"message":"' || payload || '","type":"' || role ||
         '","level":"' || level || '","tool":"' || tool || '"}' AS doc
         FROM turns WHERE level IS NOT NULL"""),
    "q_meta_flatten" -> Oracles.withPipeline(
      """SELECT conv_id, turn_idx, 'level' AS meta_key, level AS meta_value FROM turns
         UNION ALL
         SELECT conv_id, turn_idx, 'tool' AS meta_key, tool AS meta_value FROM turns
         UNION ALL
         SELECT conv_id, turn_idx, 'status' AS meta_key, status AS meta_value FROM turns"""),
    "q_limit_alerts" -> Oracles.withPipeline(
      """SELECT sink, cast(epoch(bucket) AS bigint) AS bucket_epoch,
         cast(floor(a) AS bigint) AS avg_bytes_floor
         FROM (
           SELECT sink, bucket, avg(bucket_bytes) OVER
             (PARTITION BY sink ORDER BY bucket
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a
           FROM (SELECT sink, date_trunc('hour', ts) AS bucket,
                   sum(strlen(text)) AS bucket_bytes
                 FROM routed WHERE sink = 'sink_search' GROUP BY 1, 2))
         WHERE a > 150.0"""),
    "q_enrich_agg" -> Oracles.withPipeline(
      """SELECT team, cost_class, count(*) AS n,
         cast(sum(dur_ms) AS bigint) AS total_dur
         FROM turns LEFT JOIN tool_dim USING (tool)
         GROUP BY team, cost_class"""),
    "q_limit_buckets" -> Oracles.withPipeline(
      """SELECT sink, cast(epoch(date_trunc('hour', ts)) AS bigint) AS bucket_epoch,
         cast(sum(strlen(text)) AS bigint) AS bucket_bytes
         FROM routed GROUP BY sink, date_trunc('hour', ts)"""),
    "q_limit_final" -> Oracles.withLimits(
      """SELECT sink, count(*) AS turns,
         cast(sum(strlen(text)) AS bigint) AS bytes
         FROM r2 GROUP BY sink"""),
    "q_limit_dropped" -> Oracles.withLimits(
      "SELECT conv_id, turn_idx, sink FROM d2"),
    "q_resume_antijoin" -> Oracles.withPipeline(
      """SELECT sink, count(*) AS turns FROM routed
         WHERE cast(split_part(conv_id, '-', 2) AS int) % 2 <> 0
         GROUP BY sink"""),
    "q_multisource" -> Oracles.withPipeline(
      """SELECT split_part(conv_id, '-', 1) AS source_kind, count(*) AS n,
         cast(sum(strlen(text)) AS bigint) AS bytes
         FROM (SELECT conv_id, text FROM turns
               UNION ALL
               SELECT 'doc-' || lpad(cast(doc_id AS varchar), 5, '0') AS conv_id, text
               FROM documents)
         GROUP BY 1"""),
    "q_top_convs" -> Oracles.withPipeline(
      """SELECT conv_id, cast(sum(strlen(text)) AS bigint) AS bytes,
         count(*) AS turns
         FROM routed GROUP BY conv_id
         ORDER BY bytes DESC, conv_id LIMIT 10"""),
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",
    // exact cosine twins: DOUBLE[] casts + the dot/(sqrt*sqrt) shape matching
    // graft.functions.CosineSim's sequential double accumulation bit-for-bit
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_inner_product(q.emb, c.emb) /
               (sqrt(list_inner_product(q.emb, q.emb)) *
                sqrt(list_inner_product(c.emb, c.emb))) AS cos
           FROM e q JOIN e c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 16)
         SELECT query_id, cand_id, rank FROM (
           SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
           FROM s) WHERE rank <= 5""",
    "q_cos_neardup" ->
      """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_inner_product(a.emb, b.emb) /
               (sqrt(list_inner_product(a.emb, a.emb)) *
                sqrt(list_inner_product(b.emb, b.emb))) >= 0.3""",
    // word 3-gram shingles twin of functions/WordShingles + MinHashLSH.shingles:
    // lower → split on \s+ → drop empties; <n words ⇒ the whole text is one
    // shingle; distinct shingles; J = |∩| / (|A|+|B|-|∩|)
    "q_ngram_jaccard" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
           FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(words) = 0 THEN ['']
                  WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(words) - 1),
                         i -> array_to_string(words[i:i+2], ' ')))
             END AS sh
           FROM w),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS inter,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
           FROM g a JOIN g b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           cast(floor(cast(inter AS double) / uni * 1000) AS bigint) AS jaccard_milli
         FROM p WHERE cast(inter AS double) / uni >= 0.5""",
    // transitive closure over the same exact-Jaccard edge set; component
    // label = min reachable doc_id (matches large-star/small-star's fixpoint)
    "q_dedup_groups" ->
      """WITH RECURSIVE
         w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
           FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(words) = 0 THEN ['']
                  WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(words) - 1),
                         i -> array_to_string(words[i:i+2], ' ')))
             END AS sh
           FROM w),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE cast(len(list_intersect(a.sh, b.sh)) AS double) /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM p
           UNION
           SELECT id_b AS u, id_a AS v FROM p),
         reach(id, comp) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id)
         SELECT d.doc_id, coalesce(c.grp, d.doc_id) AS grp
         FROM documents d
         LEFT JOIN (SELECT id, min(comp) AS grp FROM reach GROUP BY id) c
           ON d.doc_id = c.id""",
    "q_token_stats" ->
      """SELECT doc_id,
         cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS int) AS n_tokens,
         cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS int) AS n_bpeish
         FROM documents""",
    "q_quality" ->
      """WITH q AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS nt,
             strlen(text) AS nc,
             len(regexp_extract_all(text, '[.,;:!?]', 0)) AS pc,
             len(list_intersect(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
                 ['the','a','of','and','to','in','is'])) AS sw
           FROM documents)
         SELECT doc_id, cast(nt AS int) AS n_tokens, cast(pc AS int) AS punct_cnt,
           cast(sw AS int) AS stopword_kinds,
           cast(floor(cast(nc AS double) / greatest(nt, 1) * 100) AS bigint) AS avg_token_len,
           cast(floor(cast(least(nt, 200) AS double) / 200 * 500
                    + cast(least(sw, 5) AS double) / 5 * 500) AS bigint) AS quality_score
         FROM q""",
    "q_setsim" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN ['']
                  WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 7),
                    i -> array_to_string(toks[i:i+7], ' ')) END AS shs
           FROM tok),
         s AS (SELECT doc_id, list_distinct(shs) AS st FROM sh),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             cast(len(list_intersect(a.st, b.st)) AS bigint) AS inter,
             cast(len(a.st) + len(b.st) - len(list_intersect(a.st, b.st)) AS bigint) AS uni
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, inter, uni, inter * 1000 // uni AS jaccard_milli
         FROM p WHERE inter * 1000 >= 500 * uni""",
    "q_heavy_hitters" ->
      """WITH t AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> x <> '')) AS w
           FROM documents),
         n AS (SELECT cast(count(*) AS bigint) AS n FROM t)
         SELECT w AS item, cast(count(*) AS bigint) AS n_occurrences
         FROM t, n
         GROUP BY w, n.n
         HAVING count(*) * 40 > n.n""",
    "q_weighted_sample" ->
      """WITH b AS (
           SELECT doc_id, n_chars,
             CAST('0x' || substr(md5(cast(doc_id AS varchar) || 'wsample'), 1, 13) AS bigint) AS v
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         k AS (
           SELECT doc_id, n_chars,
             cast(floor(1000000.0 * (ln((v + 1) / 4503599627370496.0) / n_chars)) AS bigint) AS key_micro
           FROM b)
         SELECT doc_id, n_chars, key_micro FROM k
         ORDER BY key_micro DESC, doc_id LIMIT 100""",
    "q_entropy" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
               t -> t <> '') AS toks
           FROM documents),
         t AS (SELECT doc_id, cast(len(toks) AS bigint) AS n_tokens,
                 unnest(toks) AS tok
               FROM tok WHERE len(toks) > 0),
         c AS (SELECT doc_id, n_tokens, tok, cast(count(*) AS bigint) AS c
               FROM t GROUP BY 1, 2, 3)
         SELECT doc_id, n_tokens,
           cast(sum(cast(floor(1000000.0 * (c / n_tokens) * ln(n_tokens / cast(c AS double))) AS bigint)) AS bigint) AS h_micro
         FROM c GROUP BY 1, 2""",
    "q_pmi" ->
      """WITH tok AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'),
             t -> t <> '') AS toks
           FROM documents),
         uc AS (
           SELECT w, cast(count(*) AS bigint) AS c
           FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY 1),
         b0 AS (
           SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
           FROM tok WHERE len(toks) >= 2),
         bc AS (
           SELECT toks[i] AS w1, toks[i+1] AS w2,
             cast(count(*) AS bigint) AS cab
           FROM b0 GROUP BY 1, 2 HAVING count(*) >= 5),
         tot AS (
           SELECT cast(sum(len(toks)) AS bigint) AS nuni,
             cast(sum(greatest(len(toks) - 1, 0)) AS bigint) AS nbig
           FROM tok)
         SELECT w1, w2, cab,
           cast(floor(1000 * ln((cab / nbig) / ((ca.c / nuni) * (cb.c / nuni)))) AS bigint) AS pmi_milli
         FROM bc
         JOIN uc ca ON ca.w = bc.w1
         JOIN uc cb ON cb.w = bc.w2
         CROSS JOIN tot""",
    "q_ngram_coverage" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t <> '') AS toks
           FROM documents WHERE text IS NOT NULL),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN ['']
                  WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 7),
                    i -> array_to_string(toks[i:i+7], ' ')) END AS shs
           FROM tok),
         tr AS (SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 3 <> 0),
         te AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id % 3 = 0),
         j AS (
           SELECT te.doc_id, cast(count(*) AS bigint) AS n_shingles,
             cast(coalesce(sum(CASE WHEN tr.sh IS NOT NULL THEN 1 END), 0) AS bigint) AS n_matched
           FROM te LEFT JOIN tr ON te.sh = tr.sh GROUP BY 1)
         SELECT doc_id, n_shingles, n_matched,
           n_matched * 1000 // n_shingles AS contaminated_milli
         FROM j""",
    "q_postings" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
               t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT term, doc_id, cast(count(*) AS bigint) AS tf
                FROM tok GROUP BY 1, 2),
         p AS (SELECT term, doc_id, tf,
                 cast(count(*) OVER (PARTITION BY term) AS bigint) AS df
               FROM tf),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT term, doc_id, tf, df FROM p, n
         WHERE df >= 5 AND df * 100 <= n * 78""",
    "q_bm25" ->
      """WITH base AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
               t -> t <> '') AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, cast(len(toks) AS bigint) AS dl FROM base),
         st AS (SELECT cast(count(*) AS bigint) AS n,
                  cast(sum(dl) AS bigint) AS sum_dl,
                  cast(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS bigint) AS df0,
                  cast(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS bigint) AS df1,
                  cast(sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS bigint) AS df2
                FROM d),
         sc AS (
           SELECT doc_id,
             cast(floor(1000 * ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (cast(len(list_filter(toks, x -> x = 'spark')) AS bigint) * (1.2 + 1)) / (cast(len(list_filter(toks, x -> x = 'spark')) AS bigint) + 1.2 * (1 - 0.75 + (0.75 * dl) / (sum_dl / n)))) AS bigint)
             + cast(floor(1000 * ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (cast(len(list_filter(toks, x -> x = 'join')) AS bigint) * (1.2 + 1)) / (cast(len(list_filter(toks, x -> x = 'join')) AS bigint) + 1.2 * (1 - 0.75 + (0.75 * dl) / (sum_dl / n)))) AS bigint)
             + cast(floor(1000 * ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (cast(len(list_filter(toks, x -> x = 'window')) AS bigint) * (1.2 + 1)) / (cast(len(list_filter(toks, x -> x = 'window')) AS bigint) + 1.2 * (1 - 0.75 + (0.75 * dl) / (sum_dl / n)))) AS bigint)
             AS score_milli
           FROM d, st)
         SELECT doc_id, score_milli FROM sc
         ORDER BY score_milli DESC, doc_id LIMIT 20""",
    "q_scrub" ->
      """SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
         FROM documents""",
    "q_token_hist" ->
      """SELECT cast(floor(len(list_filter(string_split_regex(text, '\s+'),
           t -> t <> '')) / 10) * 10 AS bigint) AS bucket,
         count(*) AS n_docs
         FROM documents GROUP BY 1""",
    "q_split" ->
      """SELECT doc_id,
         substr(md5('split' || cast(doc_id AS varchar)), 1, 4) AS bucket,
         CASE WHEN substr(md5('split' || cast(doc_id AS varchar)), 1, 4) < '2000'
              THEN 'valid' ELSE 'train' END AS split
         FROM documents""",
    "q_pack" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nt
           FROM documents)
         SELECT doc_id, shard, cast(nt AS int) AS n_tokens,
           cast(floor(coalesce(sum(nt) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
             AS bigint) AS pack_id
         FROM t""",
    "q_export_order" ->
      """SELECT doc_id, doc_id % 8 AS shard,
         cast(row_number() OVER (
           PARTITION BY doc_id % 8
           ORDER BY md5('order' || cast(doc_id AS varchar)), doc_id) - 1
           AS bigint) AS ord
         FROM documents""",
    "q_normalize" ->
      """SELECT doc_id, nfc_normalize(text) AS normalized FROM documents""",
    "q_contamination" ->
      """WITH w AS (
           SELECT doc_id,
             substr(md5('split' || cast(doc_id AS varchar)), 1, 4) < '2000' AS is_valid,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
           FROM documents),
         g AS (
           SELECT doc_id, is_valid,
             unnest(list_distinct(
               CASE WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
                    ELSE list_transform(range(1, len(words) - 3),
                           i -> array_to_string(words[i:i+4], ' ')) END)) AS sh
           FROM w),
         rare AS (SELECT sh FROM g GROUP BY sh HAVING count(*) <= 64),
         gg AS (SELECT g.* FROM g JOIN rare USING (sh))
         SELECT t.doc_id AS train_id, v.doc_id AS valid_id, count(*) AS shared
         FROM gg t JOIN gg v USING (sh)
         WHERE NOT t.is_valid AND v.is_valid
         GROUP BY 1, 2""",
    "q_lang_quota" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_intersect(toks, ['the','and','of','to','is'])) AS s_en,
             len(list_intersect(toks, ['el','la','de','que','es'])) AS s_es,
             len(list_intersect(toks, ['der','die','und','ist','das'])) AS s_de,
             len(list_intersect(toks, ['le','la','et','est','les'])) AS s_fr,
             len(list_intersect(toks, ['的','是','了','在','我'])) AS s_zh
           FROM t),
         l AS (
           SELECT doc_id,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
                  WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
                  ELSE 'zh' END AS lang
           FROM s),
         q AS (
           SELECT doc_id,
             cast(floor(cast(least(nt, 200) AS double) / 200 * 500
                      + cast(least(sw, 5) AS double) / 5 * 500) AS bigint) AS quality_score
           FROM (SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nt,
                   len(list_intersect(
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                     ['the','a','of','and','to','in','is'])) AS sw
                 FROM documents))
         SELECT l.doc_id AS doc_id, lang, quality_score,
           cast(row_number() OVER (
             PARTITION BY lang ORDER BY quality_score DESC, l.doc_id) AS int) AS rk
         FROM l JOIN q ON l.doc_id = q.doc_id
         QUALIFY rk <= 50""",
    "q_repetition" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
             list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
               l -> l <> '') AS lns
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(toks) = 0 THEN 0
                ELSE cast(floor((1.0 - cast(len(list_distinct(toks)) AS double)
                                  / len(toks)) * 10000) AS bigint) END AS dup_token_bp,
           CASE WHEN len(lns) = 0 THEN 0
                ELSE cast(floor((1.0 - cast(len(list_distinct(lns)) AS double)
                                  / len(lns)) * 10000) AS bigint) END AS dup_line_bp
         FROM t""",
    "q_sessions" -> Oracles.withPipeline(
      """SELECT conv_id, cast(session_idx AS bigint) AS session_idx,
           count(*) AS n_turns,
           min(epoch_us(ts)) AS start_us,
           max(epoch_us(ts)) AS end_us
         FROM (
           SELECT conv_id, ts,
             sum(CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) >= 86400000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) - 1 AS session_idx
           FROM (
             SELECT conv_id, turn_idx, ts,
               lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
             FROM turns))
         GROUP BY conv_id, session_idx"""),
    "q_session_pack" -> Oracles.withPipeline(
      """SELECT conv_id, cast(session_idx AS bigint) AS session_idx,
           cast(n_tokens AS bigint) AS n_tokens,
           cast(cast(substr(conv_id, 6, 18) AS bigint) % 8 AS bigint) AS shard,
           cast(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY cast(substr(conv_id, 6, 18) AS bigint) % 8
               ORDER BY conv_id, session_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
             AS bigint) AS pack_id
         FROM (
           SELECT conv_id, session_idx, sum(nt) AS n_tokens FROM (
             SELECT conv_id, ts, turn_idx,
               len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nt,
               sum(CASE WHEN prev IS NULL
                          OR epoch_us(ts) - epoch_us(prev) >= 86400000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) - 1 AS session_idx
             FROM (
               SELECT conv_id, turn_idx, ts, text,
                 lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
               FROM turns))
           GROUP BY conv_id, session_idx)"""),
    "q_curation_full" ->
      """WITH dd AS (
           SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM documents),
         q AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
             len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS nt,
             len(list_intersect(
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
               ['the','a','of','and','to','in','is'])) AS sw
           FROM dd WHERE rn = 1),
         g AS (
           SELECT doc_id, text, toks FROM q
           WHERE cast(floor(cast(least(nt, 200) AS double) / 200 * 500
                          + cast(least(sw, 5) AS double) / 5 * 500) AS bigint) >= 300),
         sc AS (
           SELECT doc_id, text,
             len(list_intersect(toks, ['the','and','of','to','is'])) AS s_en,
             len(list_intersect(toks, ['el','la','de','que','es'])) AS s_es,
             len(list_intersect(toks, ['der','die','und','ist','das'])) AS s_de,
             len(list_intersect(toks, ['le','la','et','est','les'])) AS s_fr,
             len(list_intersect(toks, ['的','是','了','在','我'])) AS s_zh
           FROM g),
         l AS (
           SELECT doc_id, text,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
                  WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
                  ELSE 'zh' END AS lang
           FROM sc),
         samp AS (
           SELECT doc_id, text, lang FROM l
           WHERE CASE lang
                   WHEN 'en' THEN substr(md5('mix' || cast(doc_id AS varchar)), 1, 4) < '8000'
                   WHEN 'und' THEN substr(md5('mix' || cast(doc_id AS varchar)), 1, 4) < '4000'
                   ELSE true END),
         base AS (
           SELECT doc_id, lang,
             CASE WHEN substr(md5('split' || cast(doc_id AS varchar)), 1, 4) < '2000'
                  THEN 'valid' ELSE 'train' END AS split,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g') AS clean_text
           FROM samp),
         o AS (
           SELECT doc_id, lang, split, clean_text, doc_id % 8 AS shard,
             cast(row_number() OVER (
               PARTITION BY doc_id % 8
               ORDER BY md5('order' || cast(doc_id AS varchar)), doc_id) - 1
               AS bigint) AS ord,
             len(list_filter(string_split_regex(clean_text, '\s+'), t -> t <> '')) AS ntc
           FROM base)
         SELECT doc_id, lang, split, shard, ord,
           cast(floor(coalesce(sum(ntc) OVER (
             PARTITION BY split, shard ORDER BY ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
             AS bigint) AS pack_id,
           cast(ntc AS int) AS n_tokens, clean_text
         FROM o""",
    "q_dup_spans" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
           FROM documents),
         g AS (
           SELECT doc_id, len(words) AS n_tokens,
             CASE WHEN len(words) = 0 THEN ['']
                  WHEN len(words) < 4 THEN [array_to_string(words, ' ')]
                  ELSE list_transform(range(1, len(words) - 2),
                         i -> array_to_string(words[i:i+3], ' '))
             END AS sh
           FROM w),
         grams AS (
           SELECT doc_id, n_tokens, unnest(sh) AS gram,
             unnest(range(0, len(sh))) AS pos
           FROM g),
         dup AS (
           SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
           GROUP BY gram HAVING count(*) >= 2),
         spans AS (
           SELECT doc_id, n_tokens, pos, unnest(range(0, 4)) AS off
           FROM grams WHERE gram IN (SELECT gram FROM dup)),
         cov AS (
           SELECT doc_id, count(DISTINCT pos + off) AS dup_tokens
           FROM spans WHERE pos + off < n_tokens
           GROUP BY doc_id)
         SELECT w.doc_id,
           cast(len(w.words) AS int) AS n_tokens,
           coalesce(cov.dup_tokens, 0) AS dup_tokens,
           CASE WHEN len(w.words) = 0 THEN 0
                ELSE cast(floor(cast(coalesce(cov.dup_tokens, 0) AS double)
                                 / len(w.words) * 10000) AS bigint) END AS dup_span_bp
         FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id""",
    "q_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
         units AS (
           SELECT doc_id, unnest(ls) AS unit, unnest(range(1, len(ls) + 1)) AS pos
           FROM t),
         hot AS (
           SELECT u FROM (
             SELECT DISTINCT doc_id, trim(unit) AS u FROM units WHERE trim(unit) <> '')
           GROUP BY u HAVING count(*) >= 390)
         SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS clean_text
         FROM units
         WHERE trim(unit) NOT IN (SELECT u FROM hot)
         GROUP BY doc_id""",
    "q_mix_sample" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_intersect(toks, ['the','and','of','to','is'])) AS s_en,
             len(list_intersect(toks, ['el','la','de','que','es'])) AS s_es,
             len(list_intersect(toks, ['der','die','und','ist','das'])) AS s_de,
             len(list_intersect(toks, ['le','la','et','est','les'])) AS s_fr,
             len(list_intersect(toks, ['的','是','了','在','我'])) AS s_zh
           FROM t),
         lang AS (
           SELECT doc_id,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
                  WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
                  ELSE 'zh' END AS lang_guess
           FROM s)
         SELECT doc_id, lang_guess,
           substr(md5('mix' || cast(doc_id AS varchar)), 1, 4) AS bucket
         FROM lang
         WHERE CASE lang_guess
                 WHEN 'en' THEN substr(md5('mix' || cast(doc_id AS varchar)), 1, 4) < '8000'
                 WHEN 'und' THEN substr(md5('mix' || cast(doc_id AS varchar)), 1, 4) < '4000'
                 ELSE true END""",
    "q_top_ngrams" ->
      """WITH w AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
           FROM documents),
         g AS (
           SELECT CASE WHEN len(words) = 0 THEN ['']
                       WHEN len(words) < 2 THEN [array_to_string(words, ' ')]
                       ELSE list_transform(range(1, len(words)),
                              i -> array_to_string(words[i:i+1], ' '))
                  END AS sh
           FROM w)
         SELECT ngram, count(*) AS n
         FROM (SELECT unnest(sh) AS ngram FROM g)
         GROUP BY ngram
         ORDER BY n DESC, ngram
         LIMIT 20""",
    "q_curation" ->
      """WITH dd AS (
           SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM documents),
         q AS (
           SELECT doc_id, text,
             len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS nt,
             len(list_intersect(
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
               ['the','a','of','and','to','in','is'])) AS sw
           FROM dd WHERE rn = 1)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
         FROM q
         WHERE cast(floor(cast(least(nt, 200) AS double) / 200 * 500
                        + cast(least(sw, 5) AS double) / 5 * 500) AS bigint) >= 300""",
    "q_langid" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_intersect(toks, ['the','and','of','to','is'])) AS s_en,
             len(list_intersect(toks, ['el','la','de','que','es'])) AS s_es,
             len(list_intersect(toks, ['der','die','und','ist','das'])) AS s_de,
             len(list_intersect(toks, ['le','la','et','est','les'])) AS s_fr,
             len(list_intersect(toks, ['的','是','了','在','我'])) AS s_zh
           FROM t)
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
                WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_guess
         FROM s""",
    "q_tpch_pricing" ->
      """SELECT l_returnflag, l_linestatus,
           cast(sum(cast(floor(l_quantity) AS bigint)) AS bigint) AS sum_qty,
           cast(sum(cast(floor(l_extendedprice * 100) AS bigint)) AS bigint) AS sum_base_cents,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS sum_disc_cents,
           count(*) AS n_items
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus""",
    "q_tpch_revenue" ->
      """SELECT o_orderpriority,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS revenue_cents,
           count(*) AS n_items,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderpriority""",
    "q_tpch_top_customers" ->
      """SELECT c_custkey, c_name, n_name,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS revenue_cents
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue_cents DESC, c_custkey
         LIMIT 10""",
    "q_tpch_nation_volume" ->
      """SELECT n_name,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS revenue_cents,
           count(*) AS n_items
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",
    "q_tpch_idle_customers" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer
         WHERE NOT EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         GROUP BY c_mktsegment""",
    "q_tpch_waiting_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority""",
    "q_tpch_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
           coalesce(o_orderpriority, 'ALL') AS priority,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS revenue_cents,
           count(*) AS n_items
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY ROLLUP(n_name, o_orderpriority)""",
    "q_tpch_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           cast(GROUPING(o_orderstatus, o_orderpriority) AS bigint) AS gid,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS revenue_cents,
           count(*) AS n_items
         FROM orders
         JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "q_tpch_bucketed_revenue" ->
      """SELECT o_orderpriority,
           cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint) AS revenue_cents,
           count(*) AS n_items
         FROM orders
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'MACHINERY'
         GROUP BY o_orderpriority""",
    "q_top_orders_per_segment" ->
      """SELECT segment, o_orderkey, price_cents, rank_in_segment FROM (
           SELECT c_mktsegment AS segment, o_orderkey,
             cast(floor(o_totalprice * 100) AS bigint) AS price_cents,
             cast(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY cast(floor(o_totalprice * 100) AS bigint) DESC, o_orderkey)
               AS int) AS rank_in_segment
           FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rank_in_segment <= 3""",
    // the same hot-month join over the UNPARTITIONED table — proving the
    // DPP-pruned partitioned scan loses no rows
    "q_dpp_hot_months" ->
      """WITH monthly AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS m,
                  cast(sum(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS rev
           FROM orders GROUP BY 1),
         hot AS (
           SELECT m FROM (
             SELECT m, row_number() OVER (ORDER BY rev DESC, m) AS rk FROM monthly)
           WHERE rk <= 8)
         SELECT o_orderpriority,
           count(*) AS n_orders,
           cast(sum(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS price_cents
         FROM orders JOIN hot ON strftime(o_orderdate, '%Y-%m') = hot.m
         GROUP BY o_orderpriority""",
    // DuckDB's native ASOF JOIN is the independent oracle for the
    // union-window / broadcast-binary-search Spark implementations
    "q_asof_config" ->
      """WITH b AS (
           SELECT event_type, user_id, epoch_us(ts) AS e_us,
             epoch_us(ts) // 21600000000 AS bkt
           FROM events),
         s AS (
           SELECT DISTINCT event_type, bkt AS version, bkt * 21600000000 AS snap_us
           FROM b WHERE bkt % 4 = strlen(event_type) % 4)
         SELECT b.event_type, s.version, count(*) AS n_events
         FROM b ASOF JOIN s
           ON b.event_type = s.event_type AND b.e_us >= s.snap_us
         GROUP BY 1, 2""",
    // identical semantics to q_asof_config — the Spark side differs only in
    // arriving via SQL text through the asof_join_broadcast table function
    "q_asof_sql" ->
      """WITH b AS (
           SELECT event_type, user_id, epoch_us(ts) AS e_us,
             epoch_us(ts) // 21600000000 AS bkt
           FROM events),
         s AS (
           SELECT DISTINCT event_type, bkt AS version, bkt * 21600000000 AS snap_us
           FROM b WHERE bkt % 4 = strlen(event_type) % 4)
         SELECT b.event_type, s.version, count(*) AS n_events
         FROM b ASOF JOIN s
           ON b.event_type = s.event_type AND b.e_us >= s.snap_us
         GROUP BY 1, 2""",
    "q_range_windows" ->
      """WITH b AS (
           SELECT event_type, user_id, epoch_us(ts) AS e_us,
             epoch_us(ts) // 21600000000 AS bkt
           FROM events),
         s AS (
           SELECT DISTINCT event_type, bkt AS version, bkt * 21600000000 AS snap_us
           FROM b WHERE bkt % 4 = strlen(event_type) % 4),
         w AS (
           SELECT event_type, version, snap_us AS w_start,
             snap_us + 5400000000 AS w_end FROM s)
         SELECT b.event_type, w.version, count(*) AS n_in_window,
           count(DISTINCT b.user_id) AS n_users
         FROM b JOIN w ON b.event_type = w.event_type
           AND b.e_us BETWEEN w.w_start AND w.w_end
         GROUP BY 1, 2""",
    "q_overlap_sessions" ->
      """WITH b AS (
           SELECT event_type, user_id, epoch_us(ts) AS e_us,
             epoch_us(ts) // 21600000000 AS bkt
           FROM events),
         s AS (
           SELECT DISTINCT event_type, bkt AS version, bkt * 21600000000 AS snap_us
           FROM b WHERE bkt % 4 = strlen(event_type) % 4),
         w AS (
           SELECT event_type, version, snap_us AS w_start,
             snap_us + 5400000000 AS w_end FROM s),
         sp AS (
           SELECT event_type, user_id, min(e_us) AS span_start,
             max(e_us) AS span_end
           FROM b GROUP BY 1, 2)
         SELECT sp.event_type, w.version, count(*) AS n_spans,
           cast(sum(least(sp.span_end, w.w_end) -
                    greatest(sp.span_start, w.w_start)) AS bigint) AS overlap_us
         FROM sp JOIN w ON sp.event_type = w.event_type
           AND sp.span_start <= w.w_end AND w.w_start <= sp.span_end
         GROUP BY 1, 2""",
    // the oracle is the SERIAL formulation the operator decomposes: one
    // global running sum over the per-bucket deltas
    "q_interval_density" ->
      """WITH b AS (
           SELECT event_type, user_id, epoch_us(ts) AS e_us FROM events),
         sp AS (
           SELECT event_type, user_id, min(e_us) AS s, max(e_us) AS e
           FROM b GROUP BY 1, 2),
         deltas AS (
           SELECT s // 3600000000 AS bkt, 1 AS d FROM sp
           UNION ALL
           SELECT e // 3600000000 + 1 AS bkt, -1 AS d FROM sp),
         agg AS (SELECT bkt, sum(d) AS d FROM deltas GROUP BY bkt)
         SELECT bkt * 3600000000 AS bucket_start,
           cast(sum(d) OVER (ORDER BY bkt) AS bigint) AS active
         FROM agg""",
    // independent formulation of BOTH halves: the grid via generate_series,
    // the fill via DuckDB's native ASOF JOIN
    "q_resample" ->
      """WITH obs AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id AS src_event_id,
                  cast(floor(value * 100) AS bigint) AS value_cents
           FROM events),
         bounds AS (
           SELECT user_id,
                  (min(ts_us) + 21600000000 - 1) // 21600000000 AS lo,
                  max(ts_us) // 21600000000 AS hi
           FROM obs GROUP BY 1),
         grid AS (
           SELECT user_id, unnest(generate_series(lo, hi)) * 21600000000 AS grid_us
           FROM bounds WHERE hi >= lo)
         SELECT g.user_id, g.grid_us, o.src_event_id, o.value_cents
         FROM grid g ASOF JOIN obs o
           ON g.user_id = o.user_id AND g.grid_us >= o.ts_us""",
    // DuckDB's own window stack recomputes the synthetic counter AND the
    // reset-aware increase
    "q_counter_rate" ->
      """WITH c AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) % 7 AS counter
           FROM events),
         d AS (
           SELECT user_id, event_id, counter,
                  lag(counter) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS prev
           FROM c)
         SELECT user_id, event_id, counter,
                CASE WHEN prev IS NULL THEN NULL
                     WHEN counter >= prev THEN counter - prev
                     ELSE counter END AS increase
         FROM d""",
    "q_transitions" ->
      """WITH s AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev
           FROM events),
         c AS (
           SELECT prev AS from_state, event_type AS to_state,
             cast(count(*) AS bigint) AS n
           FROM s WHERE prev IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2)
         SELECT from_state, to_state, n,
           cast(n * 1000 // cast(sum(n) OVER (PARTITION BY from_state) AS bigint)
             AS bigint) AS p_milli
         FROM c""",
    "q_anomaly" ->
      """WITH s AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                  cast(count(*) AS bigint) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, hr, cnt,
             list_sort(list(cnt) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) AS win
           FROM s),
         m AS (
           SELECT event_type, hr, cnt, win, win[12] + win[13] AS med2
           FROM w WHERE len(win) = 24),
         d AS (
           SELECT event_type, hr, cnt, med2, abs(2*cnt - med2) AS dev2,
             list_sort(list_transform(win, x -> abs(2*x - med2))) AS devs
           FROM m)
         SELECT event_type, hr, cnt, med2, dev2,
                devs[12] + devs[13] AS mad4,
                CASE WHEN 2*dev2 > 6*(devs[12] + devs[13]) THEN 1 ELSE 0
                  END AS anomaly
         FROM d""",
    "q_profile" ->
      """SELECT count(*) AS n_rows,
           count(DISTINCT o_custkey) AS n_custkeys,
           count(DISTINCT o_orderstatus) AS n_statuses,
           min(o_orderkey) AS min_okey,
           max(o_orderkey) AS max_okey,
           cast(floor(min(o_totalprice) * 100) AS bigint) AS min_price_cents,
           cast(floor(max(o_totalprice) * 100) AS bigint) AS max_price_cents,
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS null_priorities,
           min(epoch_us(o_orderdate)) AS min_date_us,
           max(epoch_us(o_orderdate)) AS max_date_us
         FROM orders""",
    // every verdict recomputed from independent aggregates; all counters and
    // flags cast to bigint so DuckDB's int32 literals can't skew the schema
    "q_expectations" ->
      """WITH a AS (SELECT
           cast(count(*) AS bigint) AS cnt,
           cast(count(CASE WHEN text IS NULL THEN 1 END) AS bigint) AS v_text,
           cast(count(doc_id) AS bigint) AS nn_doc,
           cast(count(DISTINCT doc_id) AS bigint) AS dist_doc,
           cast(count(source) AS bigint) AS nn_src,
           cast(count(DISTINCT source) AS bigint) AS dist_src,
           cast(count(n_chars) AS bigint) AS nn_nch,
           cast(count(CASE WHEN n_chars IS NOT NULL
                            AND (n_chars < 1 OR n_chars > 400) THEN 1 END)
                AS bigint) AS v_nch,
           cast(count(lang) AS bigint) AS nn_lang,
           cast(count(CASE WHEN lang IS NOT NULL
                            AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 END)
                AS bigint) AS v_lang,
           cast(count(CASE WHEN source IS NOT NULL AND source NOT IN
                  ('src0','src1','src2','src3','src4',
                   'src5','src6','src7','src8','src9') THEN 1 END)
                AS bigint) AS v_one
         FROM documents)
         SELECT 'complete_text' AS check_name, 'text' AS col_name,
                v_text AS violations, cnt AS denom,
                cast(50000 AS bigint) AS threshold_ppm,
                cast(CASE WHEN v_text * 1000000 <= 50000 * cnt
                          THEN 1 ELSE 0 END AS bigint) AS passed FROM a
         UNION ALL SELECT 'unique_doc_id', 'doc_id', nn_doc - dist_doc, nn_doc,
                cast(0 AS bigint),
                cast(CASE WHEN nn_doc = dist_doc THEN 1 ELSE 0 END AS bigint) FROM a
         UNION ALL SELECT 'unique_source', 'source', nn_src - dist_src, nn_src,
                cast(0 AS bigint),
                cast(CASE WHEN nn_src = dist_src THEN 1 ELSE 0 END AS bigint) FROM a
         UNION ALL SELECT 'range_n_chars', 'n_chars', v_nch, nn_nch,
                cast(0 AS bigint),
                cast(CASE WHEN v_nch = 0 THEN 1 ELSE 0 END AS bigint) FROM a
         UNION ALL SELECT 'matches_lang', 'lang', v_lang, nn_lang,
                cast(0 AS bigint),
                cast(CASE WHEN v_lang = 0 THEN 1 ELSE 0 END AS bigint) FROM a
         UNION ALL SELECT 'one_of_source', 'source', v_one, nn_src,
                cast(0 AS bigint),
                cast(CASE WHEN v_one = 0 THEN 1 ELSE 0 END AS bigint) FROM a""",
    // the rewrite must preserve content exactly: oracle is the plain table
    "q_compact" ->
      "SELECT event_id, user_id FROM events",
    // the full-scan filter the pruned read must equal row-for-row
    "q_skipping_read" ->
      """SELECT event_id, user_id, epoch_us(ts) // 3600000000 AS hr
         FROM events
         WHERE epoch_us(ts) // 3600000000 BETWEEN 473400 AND 473449
           AND user_id BETWEEN 10 AND 59""",
    "q_bloom_lookup" ->
      """SELECT event_id, user_id, epoch_us(ts) // 3600000000 AS hr
         FROM events
         WHERE event_id IN (7, 123, 250, 401, 512, 700, 888, 963)""",
    "q_drift" ->
      """WITH m AS (
           SELECT doc_id, text,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang, n_chars,
             cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS bigint) AS n_tokens
           FROM documents WHERE doc_id % 10 <> 0),
         b AS (
           SELECT 'doc_id' AS col, cast(count(*) AS bigint) AS n_rows,
             cast(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS bigint) AS n_nulls,
             cast(count(DISTINCT doc_id) AS bigint) AS n_distinct FROM documents
           UNION ALL SELECT 'text', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT text) AS bigint) FROM documents
           UNION ALL SELECT 'lang', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT lang) AS bigint) FROM documents
           UNION ALL SELECT 'source', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT source) AS bigint) FROM documents
           UNION ALL SELECT 'n_chars', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT n_chars) AS bigint) FROM documents),
         a AS (
           SELECT 'doc_id' AS col, cast(count(*) AS bigint) AS n_rows,
             cast(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS bigint) AS n_nulls,
             cast(count(DISTINCT doc_id) AS bigint) AS n_distinct FROM m
           UNION ALL SELECT 'text', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT text) AS bigint) FROM m
           UNION ALL SELECT 'lang', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT lang) AS bigint) FROM m
           UNION ALL SELECT 'n_chars', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT n_chars) AS bigint) FROM m
           UNION ALL SELECT 'n_tokens', cast(count(*) AS bigint),
             cast(coalesce(sum(CASE WHEN n_tokens IS NULL THEN 1 ELSE 0 END), 0) AS bigint),
             cast(count(DISTINCT n_tokens) AS bigint) FROM m),
         j AS (
           SELECT coalesce(b.col, a.col) AS "column",
             b.col IS NULL AS is_added, a.col IS NULL AS is_dropped,
             b.n_nulls AS n_nulls_before, a.n_nulls AS n_nulls_after,
             b.n_distinct AS n_distinct_before, a.n_distinct AS n_distinct_after,
             abs(a.n_nulls * 10000 // greatest(a.n_rows, 1)
               - b.n_nulls * 10000 // greatest(b.n_rows, 1)) AS null_delta_bp
           FROM b FULL OUTER JOIN a ON b.col = a.col)
         SELECT "column",
           CASE WHEN is_added THEN 'added'
                WHEN is_dropped THEN 'dropped'
                WHEN null_delta_bp > 100
                  OR n_distinct_after * 100 > n_distinct_before * 150
                  OR n_distinct_before * 100 > n_distinct_after * 150 THEN 'drifted'
                ELSE 'stable' END AS status,
           n_nulls_before, n_nulls_after, n_distinct_before, n_distinct_after,
           cast(null_delta_bp AS bigint) AS null_delta_bp
         FROM j""",
    "q_zorder" ->
      """WITH b AS (
           SELECT event_id,
             (epoch_us(ts) // 3600000000) % 65536 AS xa,
             user_id % 65536 AS xb
           FROM events),
         s1 AS (SELECT event_id,
           (xa | (xa << 8)) & 16711935 AS xa,
           (xb | (xb << 8)) & 16711935 AS xb FROM b),
         s2 AS (SELECT event_id,
           (xa | (xa << 4)) & 252645135 AS xa,
           (xb | (xb << 4)) & 252645135 AS xb FROM s1),
         s3 AS (SELECT event_id,
           (xa | (xa << 2)) & 858993459 AS xa,
           (xb | (xb << 2)) & 858993459 AS xb FROM s2),
         s4 AS (SELECT event_id,
           (xa | (xa << 1)) & 1431655765 AS xa,
           (xb | (xb << 1)) & 1431655765 AS xb FROM s3)
         SELECT event_id, (xa << 1) | xb AS zorder2 FROM s4""",
    "q_retention" ->
      """WITH b AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         f AS (
           SELECT user_id, day,
             min(day) OVER (PARTITION BY user_id) AS cohort
           FROM b)
         SELECT cohort, day - cohort AS day_offset,
           count(DISTINCT user_id) AS n_active
         FROM f GROUP BY 1, 2""",
    "q_sample_pps" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nt
           FROM documents),
         p AS (
           SELECT doc_id, shard, nt,
             coalesce(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
           FROM t)
         SELECT doc_id, shard, cast(nt AS int) AS n_tokens
         FROM p
         WHERE nt > 0 AND ((pfx + nt - 1) // 256 > pfx // 256 OR pfx % 256 = 0)""",
    "q_incr_agg" ->
      """WITH snap AS (
           SELECT o_orderkey, o_orderstatus,
             cast(floor(o_totalprice * 100) AS bigint) AS price_cents
           FROM orders),
         ch AS (
           SELECT o_orderkey, o_orderstatus, price_cents + 1000 AS price_cents,
             'U' AS op, 1 AS seq FROM snap WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents, 'D', 2
           FROM snap WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, 'N', price_cents, 'I', 1
           FROM snap WHERE o_orderkey % 13 = 0),
         win AS (
           SELECT * FROM (
             SELECT ch.*, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM ch)
           WHERE rn = 1),
         merged AS (
           SELECT s.o_orderkey, s.o_orderstatus, s.price_cents FROM snap s
           WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM win)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents FROM win WHERE op <> 'D')
         SELECT o_orderstatus, count(*) AS n_orders,
           cast(sum(price_cents) AS bigint) AS revenue_cents
         FROM merged GROUP BY 1""",
    // from-scratch recompute of count + both sums + derived avg — equality
    // with the incremental path proves multi-measure maintenance
    "q_incr_agg_multi" ->
      """WITH snap AS (
           SELECT o_orderkey, o_orderstatus,
             cast(floor(o_totalprice * 100) AS bigint) AS price_cents,
             o_orderkey % 100 AS units
           FROM orders),
         ch AS (
           SELECT o_orderkey, o_orderstatus, price_cents + 1000 AS price_cents,
             units, 'U' AS op, 1 AS seq FROM snap WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents, units, 'D', 2
           FROM snap WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, 'N', price_cents, units, 'I', 1
           FROM snap WHERE o_orderkey % 13 = 0),
         win AS (
           SELECT * FROM (
             SELECT ch.*, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM ch)
           WHERE rn = 1),
         merged AS (
           SELECT s.o_orderkey, s.o_orderstatus, s.price_cents, s.units FROM snap s
           WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM win)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents, units FROM win WHERE op <> 'D')
         SELECT o_orderstatus, count(*) AS n_orders,
           cast(sum(price_cents) AS bigint) AS revenue_cents,
           cast(sum(units) AS bigint) AS total_units,
           cast(cast(sum(price_cents) AS bigint) * 1000 // count(*) AS bigint)
             AS avg_price_milli
         FROM merged GROUP BY 1""",
    "q_funnel" ->
      """WITH base AS (
           SELECT user_id * 100000 + (epoch_us(ts) // 86400000000) AS ent,
             event_type, epoch_us(ts) AS e_us, event_id
           FROM events),
         l0 AS (
           SELECT *, min(CASE WHEN event_type = 'view' THEN e_us END) OVER (
             PARTITION BY ent ORDER BY e_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m0
           FROM base),
         l1 AS (
           SELECT *, min(CASE WHEN event_type = 'click' AND m0 IS NOT NULL
               THEN e_us END) OVER (
             PARTITION BY ent ORDER BY e_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m1
           FROM l0),
         l2 AS (
           SELECT *, min(CASE WHEN event_type = 'purchase' AND m1 IS NOT NULL
               THEN e_us END) OVER (
             PARTITION BY ent ORDER BY e_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
           FROM l1),
         d AS (
           SELECT ent, max(CASE WHEN m2 IS NOT NULL THEN 3
                                WHEN m1 IS NOT NULL THEN 2
                                WHEN m0 IS NOT NULL THEN 1
                                ELSE 0 END) AS depth
           FROM l2 GROUP BY ent)
         SELECT depth, count(*) AS n_entities FROM d GROUP BY depth""",
    "q_edit_refine" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
           FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(words) = 0 THEN ['']
                  WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(words) - 1),
                         i -> array_to_string(words[i:i+2], ' ')))
             END AS sh
           FROM w),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE cast(len(list_intersect(a.sh, b.sh)) AS double) /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         px AS (SELECT doc_id, substr(text, 1, 80) AS pfx FROM documents)
         SELECT p.id_a, p.id_b,
           cast(levenshtein(a.pfx, b.pfx) AS int) AS edit_dist
         FROM p
         JOIN px a ON a.doc_id = p.id_a
         JOIN px b ON b.doc_id = p.id_b
         WHERE levenshtein(a.pfx, b.pfx) <= 20""",
    // NOT EXISTS, not NOT IN: NOT IN's three-valued NULL semantics diverge
    // from the Spark side's anti-join (one NULL corpus text would empty the
    // NOT IN result; NULL incoming texts are dropped by NOT IN but kept by
    // BloomDedup.newDocs) — NOT EXISTS with an equality predicate is the
    // anti-join-equivalent form regardless of nulls
    "q_bloom_incremental" ->
      """SELECT d.doc_id FROM documents d
         WHERE d.doc_id % 3 = 0
           AND NOT EXISTS (SELECT 1 FROM documents c
                           WHERE c.doc_id % 3 <> 0 AND c.text = d.text)""",
    "q_cdc_upsert" ->
      """WITH snap AS (
           SELECT o_orderkey, o_orderstatus,
             cast(floor(o_totalprice * 100) AS bigint) AS price_cents
           FROM orders),
         ch AS (
           SELECT o_orderkey, o_orderstatus, price_cents + 1000 AS price_cents,
             'U' AS op, 1 AS seq FROM snap WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents, 'D', 2
           FROM snap WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, 'N', price_cents, 'I', 1
           FROM snap WHERE o_orderkey % 13 = 0),
         win AS (
           SELECT * FROM (
             SELECT ch.*, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM ch)
           WHERE rn = 1)
         SELECT s.o_orderkey, s.o_orderstatus, s.price_cents FROM snap s
         WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM win)
         UNION ALL
         SELECT o_orderkey, o_orderstatus, price_cents FROM win WHERE op <> 'D'""",
    // independent formulation: recompute the NEW snapshot (the MERGE), then
    // diff old vs new with a full-outer join + IS DISTINCT FROM in SQL
    "q_cdc_diff" ->
      """WITH snap AS (
           SELECT o_orderkey, o_orderstatus,
             cast(floor(o_totalprice * 100) AS bigint) AS price_cents
           FROM orders),
         ch AS (
           SELECT o_orderkey, o_orderstatus, price_cents + 1000 AS price_cents,
             'U' AS op, 1 AS seq FROM snap WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents, 'D', 2
           FROM snap WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, 'N', price_cents, 'I', 1
           FROM snap WHERE o_orderkey % 13 = 0),
         win AS (
           SELECT * FROM (
             SELECT ch.*, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM ch)
           WHERE rn = 1),
         merged AS (
           SELECT s.o_orderkey, s.o_orderstatus, s.price_cents FROM snap s
           WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM win)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, price_cents FROM win WHERE op <> 'D')
         SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
                ELSE n.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NULL THEN o.price_cents
                ELSE n.price_cents END AS price_cents,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                WHEN n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                  OR n.price_cents IS DISTINCT FROM o.price_cents THEN 'U'
           END AS op,
           cast(1 AS bigint) AS seq
         FROM snap o FULL OUTER JOIN merged n ON o.o_orderkey = n.o_orderkey
         WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
           OR n.price_cents IS DISTINCT FROM o.price_cents""",
    "q_scd2" ->
      """WITH b AS (
           SELECT event_type, epoch_us(ts) // 21600000000 AS bkt FROM events),
         s AS (
           SELECT DISTINCT event_type, bkt AS version, bkt * 21600000000 AS snap_us
           FROM b WHERE bkt % 4 = strlen(event_type) % 4),
         h AS (
           SELECT event_type, version, snap_us AS valid_from,
             lead(snap_us) OVER (PARTITION BY event_type ORDER BY snap_us)
               AS valid_to
           FROM s)
         SELECT event_type, version, valid_from,
           coalesce(valid_to, 9223372036854775807) AS valid_to,
           valid_to IS NULL AS is_current
         FROM h""",
    "q_pivot_type_hours" ->
      """SELECT cast(hour(ts) AS int) AS hour,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS "view"
         FROM events GROUP BY 1"""
  )
}
