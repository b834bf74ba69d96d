package graft

import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c.as("v")).collect()(0).get(0)

  test("token counting: whitespace and BPE-ish") {
    assert(one("  hello   world ", TextAnalysis.tokenCount(col("text"))) === 2)
    assert(one("", TextAnalysis.tokenCount(col("text"))) === 0)
    // ab1 c! → [ab][1][c][!] = 4 BPE-ish pieces
    assert(one("ab1 c!", TextAnalysis.bpeishCount(col("text"))) === 4)
  }

  test("language ID: marker-word argmax with deterministic tie-break") {
    assert(one("the cat is on the mat", TextAnalysis.langGuess(col("text"))) === "en")
    assert(one("el perro que la casa es", TextAnalysis.langGuess(col("text"))) === "es")
    assert(one("der hund ist und das", TextAnalysis.langGuess(col("text"))) === "de")
    assert(one("xyzzy plugh quux", TextAnalysis.langGuess(col("text"))) === "und")
    // 'la' is in both es and fr lists; es wins the tie (earlier in code order)
    assert(one("la la la", TextAnalysis.langGuess(col("text"))) === "es")
  }

  test("quality features: handcrafted values") {
    val r = TextAnalysis.qualityFeatures(Seq((1L, "the quick fox, it is!")).toDF("doc_id", "text"))
      .collect()(0)
    assert(r.getAs[Int]("n_tokens") === 5)
    assert(r.getAs[Int]("punct_cnt") === 2) // comma + bang
    assert(r.getAs[Int]("stopword_kinds") === 1) // only "the" ("is!" ≠ "is")
    // 21 bytes / 5 tokens * 100 = 420
    assert(r.getAs[Long]("avg_token_len") === 420L)
    // 5/200*500 + 1/5*500 = 12.5 + 100 → floor 112
    assert(r.getAs[Long]("quality_score") === 112L)
  }

  test("repetition signals: handcrafted duplicate fractions in basis points") {
    val d = Seq(
      (1L, "a a a b"),          // 4 tokens, 2 distinct → 5000 bp; 1 line → 0
      (2L, "x y z"),            // all distinct → 0
      (3L, "l1 l1\nl1 l1\nl2")  // tokens [l1,l1,l1,l1,l2] → 8000/... lines 3, 2 distinct → 3333
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionFeatures(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dup_token_bp"), r.getAs[Long]("dup_line_bp")))).toMap
    assert(got(1L) === ((5000L, 0L)))
    assert(got(2L) === ((0L, 0L)))
    assert(got(3L) === ((6000L, 3333L))) // 5 tokens, 2 distinct → (1-2/5)*1e4
  }

  test("dataset split: deterministic, engine-portable, ~12.5% valid share") {
    val keys = (0L until 4000L).toDF("doc_id")
    val split = keys.select(col("doc_id"),
      TextAnalysis.datasetSplit(col("doc_id")).as("split"))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // binomial(4000, 1/8): mean 500, assert within 5 sigma (~±110)
    assert(math.abs(counts("valid") - 500L) < 110, s"valid share off: $counts")
    // determinism: same keys → identical assignment on re-evaluation
    val again = keys.select(col("doc_id"),
      TextAnalysis.datasetSplit(col("doc_id")).as("split"))
    assert(split.exceptAll(again).count() === 0)
    // portability: md5 is the cross-engine contract — pin one known value
    val b = keys.limit(1).select(
      TextAnalysis.hashBucket(col("doc_id"), "split").as("b")).collect()(0).getString(0)
    assert(b === java.security.MessageDigest.getInstance("MD5")
      .digest("split0".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(4))
  }

  test("sequence packing: prefix-sum chunk assignment, per-shard, budget-monotone") {
    // one shard (nShards=1) with token counts 3,3,3 at budget 4:
    // starts 0,3,6 → packs 0,0,1
    val docs = Seq((0L, "a b c"), (1L, "d e f"), (2L, "g h i")).toDF("doc_id", "text")
    val p = TextAnalysis.packs(docs, maxTokens = 4, nShards = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(p === Map(0L -> 0L, 1L -> 0L, 2L -> 1L))
    // multi-shard: pack ids restart per shard and are monotone in doc order
    val many = (0L until 64L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val rows = TextAnalysis.packs(many, maxTokens = 8, nShards = 4).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id")))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byDoc = rs.sortBy(_._2).map(_._3)
      assert(byDoc.head === 0L)
      assert(byDoc.zip(byDoc.tail).forall { case (a, b) => b >= a && b <= a + 1 },
        s"pack ids must be monotone without gaps: ${byDoc.toSeq}")
    }
  }

  test("nfc_normalize kernel: composed == normalized(decomposed), ASCII identity") {
    val composed = "caf\u00e9 \u00e9cole" // e-acute as single code points
    val decomposed = "cafe\u0301 e\u0301cole" // e + combining acute U+0301
    assert(one(decomposed, graft.functions.NormalizeFunctions.nfc_normalize(col("text")))
      === composed)
    assert(one("plain ascii", graft.functions.NormalizeFunctions.nfc_normalize(col("text")))
      === "plain ascii")
    // exact dedup with NFC pre-normalization groups the two spellings
    val d = Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "raw")
      .select(col("doc_id"),
        graft.functions.NormalizeFunctions.nfc_normalize(col("raw")).as("text"))
    assert(graft.dedup.ExactDedup.dedup(d).count() === 1)
  }

  test("split contamination: cross-split 5-gram overlap found, within-split ignored") {
    // doc_ids chosen so 0x... md5 buckets split them: find one valid + two
    // train ids deterministically, give the valid doc a 5-gram shared with
    // train doc A only
    val ids = (0L until 200L)
    def bucket(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"split$i".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(4)
    val validId = ids.find(bucket(_) < "2000").get
    val Seq(trainA, trainB) = ids.filter(bucket(_) >= "2000").take(2).toSeq
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (validId, s"$shared zeta"),
      (trainA, s"prefix words $shared"),
      (trainB, "completely different content here okay")).toDF("doc_id", "text")
    val got = TextAnalysis.splitContamination(docs).collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("valid_id"), r.getAs[Long]("shared")))
    assert(got.toSeq === Seq((trainA, validId, 1L)), s"got ${got.toSeq}")
  }

  test("export order: per-shard permutation, deterministic, decorrelated from id order") {
    val docs = (0L until 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = TextAnalysis.exportOrder(docs, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall { case (id, shard, _) => shard === id % 4 })
    // each shard's ord is exactly 0..n-1
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    // pseudo-random: the md5 interleave must not equal plain id order
    val shard0 = out.filter(_._2 === 0L).sortBy(_._3).map(_._1).toSeq
    assert(shard0 !== shard0.sorted)
    // deterministic across invocations
    val again = TextAnalysis.exportOrder(docs, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet === again.toSet)
  }

  test("duplicated spans: cross-doc 4-gram marks its positions, within-doc repetition does not") {
    val docs = Seq(
      (1L, "one two three four five six"),        // shares gram at pos 0 with doc 2
      (2L, "zzz one two three four qqq"),         // gram at pos 1 -> tokens 1..4
      (3L, "rep rep rep rep rep rep rep rep"),    // within-doc repeats only: df = 1
      (4L, ""),                                   // empty
      (5L, "tiny doc"),                           // short-doc gram = whole text,
      (6L, "tiny doc")                            // shared -> fully duplicated
    ).toDF("doc_id", "text")
    val out = TextAnalysis.duplicatedSpans(docs, w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((6, 4L, 6666L)))
    assert(out(2L) === ((6, 4L, 6666L)))
    assert(out(3L) === ((8, 0L, 0L)), "within-doc repetition must not mark spans")
    assert(out(4L) === ((0, 0L, 0L)))
    assert(out(5L) === ((2, 2L, 10000L)))
    assert(out(6L) === ((2, 2L, 10000L)))
  }

  test("boilerplate line removal: planted banner stripped everywhere, order kept, emptied doc dropped") {
    val banner = "Accept cookies to continue"
    val docs = Seq(
      (1L, s"intro\n$banner\nbody one"),
      (2L, s"$banner\nbody two\noutro"),
      (3L, s"body three\n  $banner  "), // trailing spaces: trim-matched
      (4L, banner), // nothing but the banner -> dropped
      (5L, "no banner here\nat all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripFrequentUnits(docs, minDf = 3, sep = "\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      1L -> "intro\nbody one",
      2L -> "body two\noutro",
      3L -> "body three",
      5L -> "no banner here\nat all"))
    // below the df threshold (banner df = 4) nothing is stripped
    val none = TextAnalysis.stripFrequentUnits(docs, minDf = 5, sep = "\n")
    assert(none.count() === 5)
  }

  test("broadcast guard: oversized hot set falls back to a shuffled anti-join, same rows") {
    // minDf=1 makes EVERY distinct unit hot (the pathological caller the
    // guard exists for) — with a tiny cap the plan must not broadcast, and
    // a doc of all-hot units still disappears exactly as in broadcast mode
    // autoBroadcastJoinThreshold=-1 models the 100 TB reality where the
    // planner's size estimate refuses broadcast — isolating the explicit
    // broadcast() hint, which is exactly what the guard makes conditional
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val guarded = TextAnalysis.stripFrequentUnits(docs, minDf = 2, sep = " ",
        maxBroadcastUnits = 10)
      assert(!guarded.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "over-cap hot set must not be broadcast")
      val broadcasted = TextAnalysis.stripFrequentUnits(docs, minDf = 2, sep = " ")
      assert(broadcasted.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "under-cap hot set keeps the broadcast hint even when the planner would not")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(canon(guarded) === canon(broadcasted), "guard must not change results")
      // the degenerate minDf=1 run completes without a driver-side blow-up
      val allHot = TextAnalysis.stripFrequentUnits(docs, minDf = 1, sep = " ",
        maxBroadcastUnits = 10)
      assert(allHot.count() === 0L, "every unit hot => every doc emptied and dropped")
    }
  }

  test("stratified sampling: rate extremes, md5-threshold membership, stratum independence") {
    val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "und"))
      .toDF("doc_id", "lang")
    def ids(rates: Map[String, Double], default: Double = 1.0): Set[Long] =
      TextAnalysis.stratifiedSample(docs, "lang", rates, default)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(Map("en" -> 1.0, "und" -> 1.0)).size === 200)
    assert(ids(Map("en" -> 0.0, "und" -> 0.0)).size === 0)
    // en halved by the md5 bucket, und untouched; kept set = manual recompute
    val kept = ids(Map("en" -> 0.5))
    val expected = (0L until 200L).filter { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      i % 2 == 1 || md.substring(0, 4) < "8000"
    }.toSet
    assert(kept === expected)
    // a rate that ROUNDS to 65536 must keep everything (the naive "%04x"
    // would be the 5-char "10000", lexicographically below most buckets)
    assert(ids(Map("en" -> 0.999999, "und" -> 0.9999999)).size === 200)
    // verdicts are per-doc: dropping other docs never changes membership
    val subsetKept = TextAnalysis.stratifiedSample(
      docs.filter(col("doc_id") < 50), "lang", Map("en" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(subsetKept === kept.filter(_ < 50))
  }

  test("domain counts: handcrafted URLs aggregate per domain") {
    val docs = Seq(
      (1L, "see https://a.example.com/x and http://b.org/y"),
      (2L, "again https://a.example.com/z no-url text")).toDF("doc_id", "text")
    val got = TextAnalysis.domainCounts(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a.example.com" -> 2L, "b.org" -> 1L))
  }

  test("fingerprint: whitespace/case-insensitive, order-sensitive, collision-free here") {
    val fps = Seq(
      (1L, "Hello   World"), (2L, "hello world"),
      (3L, "world hello"), (4L, "something else"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
    assert(fps(1L) !== fps(4L))
  }

  test("samplePps: deterministic, long docs always picked, per-shard pick count bounded") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s1 = graft.text.TextAnalysis.samplePps(docs, strideTokens = 256, nShards = 8)
    val picks = s1.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(picks.nonEmpty)
    // deterministic: a second run is identical
    val s2 = graft.text.TextAnalysis.samplePps(docs, strideTokens = 256, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(picks.sorted.sameElements(s2.sorted))
    // a document spanning >= stride tokens must contain a boundary
    val longDocs = graft.text.TextAnalysis.withPacks(
        docs.withColumn("shard", org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.lit(8))),
        256, Seq("shard"), "doc_id")
      .filter(org.apache.spark.sql.functions.col("n_tokens") >= 256)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(longDocs.subsetOf(picks.map(_._1).toSet))
    // per shard: picks <= ceil(shard_tokens/256) (each boundary picks at most one doc)
    val tokensPerShard = graft.text.TextAnalysis.withPacks(
        docs.withColumn("shard", org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.lit(8))),
        256, Seq("shard"), "doc_id")
      .groupBy("shard").agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val picksPerShard = picks.groupBy(_._2).view.mapValues(_.length).toMap
    picksPerShard.foreach { case (sh, n) =>
      assert(n <= (tokensPerShard(sh) + 255) / 256, s"shard $sh: $n picks")
    }
  }
}
