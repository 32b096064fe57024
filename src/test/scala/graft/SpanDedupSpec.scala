package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}

/** Semantics tests for the span-level dedup family and BM25 retrieval —
  * the edge cases the sf0.01 oracle corpus cannot probe: sub-n documents,
  * island-merge boundaries at exactly the gram size, minDocs > 2, canon
  * retention, score ties, and the per-side cross-corpus bucket cap.
  */
class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  // doc 1: shared grams "a b c" (pos 0) and "d e f" (pos 3) — gap == n,
  //   coverage touches, islands MERGE into one span 0..5
  // doc 2: same grams at pos 0 and 4 — gap == n+1, coverage breaks,
  //   two spans with a one-token hole at pos 3
  private def gapDocs = Seq(
    (1L, "a b c d e f"),
    (2L, "a b c z d e f")
  ).toDF("doc_id", "text")

  test("dedupLines removes corpus-frequent lines EVERYWHERE, keeps blanks and rare lines") {
    // "nav menu" appears 4× across three docs (incl. twice in doc 1):
    // every occurrence vanishes — the CCNet contract removes the first
    // occurrence too, unlike the keep-one dedup family. Blank lines are
    // never counted, never removed. Doc 3 is pure boilerplate and
    // survives as an empty-text row, not a dropped one. Doc 4 is NULL.
    val docs = Seq(
      (1L, "nav menu\nreal content one\n\nnav menu"),
      (2L, "nav menu\nreal content two"),
      (3L, "nav menu"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLines("doc_id", "text", minCount = 3)(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 4L, 2L, "real content one\n"),
      (2L, 2L, 1L, "real content two"),
      (3L, 1L, 1L, ""),
      (4L, 1L, 0L, "")))
    // minCount is a threshold, not an exact count: at 5, "nav menu"
    // (4 occurrences corpus-wide) drops below it and survives
    val lax = TextOps.dedupLines("doc_id", "text", minCount = 5)(docs)
      .orderBy("doc_id").select("n_removed").as[Long].collect()
    assert(lax.toSeq === Seq(0L, 0L, 0L, 0L))
    intercept[IllegalArgumentException](
      TextOps.dedupLines("doc_id", "text", minCount = 1)(docs))
  }

  test("applyLineFilter: literal-model parity with dedupLines on the training corpus") {
    val docs = Seq(
      (1L, "nav menu\nreal content one\n\nnav menu"),
      (2L, "nav menu\nreal content two"),
      (3L, "nav menu"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val heavy = TextOps.heavyLineRows("text", minCount = 3)(docs)
      .select("line").as[String].collect().toSeq
    assert(heavy === Seq("nav menu")) // 4 occurrences >= 3; blanks never indexed
    val joined = TextOps.dedupLines("doc_id", "text", minCount = 3)(docs)
      .orderBy("doc_id").collect().toSeq
    val literal = TextOps.applyLineFilter("doc_id", "text", heavy)(docs)
      .orderBy("doc_id").collect().toSeq
    assert(literal === joined)
    // blank lines in the model are refused — the contract, not a guess
    intercept[IllegalArgumentException](
      TextOps.applyLineFilter("doc_id", "text", Seq("x", " "))(docs))
    // an empty model passes everything through untouched
    val none = TextOps.applyLineFilter("doc_id", "text", Nil)(docs)
      .agg(sum("n_removed")).head.getLong(0)
    assert(none === 0L)
  }

  test("duplicateSpans merges islands at gap == n and splits at n+1") {
    val out = TextOps.duplicateSpans("doc_id", "text", n = 3)(gapDocs)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array(
      (1L, 0L, 5L, 6L),           // merged: one maximal span
      (2L, 0L, 2L, 3L), (2L, 4L, 6L, 3L))) // split by the z hole
  }

  test("duplicateSpans: docs shorter than n yield no grams and no spans") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    assert(TextOps.duplicateSpans("doc_id", "text", n = 3)(docs).count() === 0)
  }

  test("duplicateSpans minDocs=3 requires three distinct holders") {
    val two = Seq((1L, "a b c d"), (2L, "x a b c")).toDF("doc_id", "text")
    assert(TextOps.duplicateSpans("doc_id", "text", n = 3, minDocs = 3)(two)
      .count() === 0)
    val three = two.union(Seq((3L, "a b c y")).toDF("doc_id", "text"))
    val spans = TextOps.duplicateSpans("doc_id", "text", n = 3, minDocs = 3)(three)
    // "a b c" now lives in all three docs; each doc reports its own span
    assert(spans.select("doc_id").as[Long].collect().sorted === Array(1L, 2L, 3L))
  }

  test("duplicateSpans minSpanTokens drops short spans after merging") {
    val filtered = TextOps.duplicateSpans("doc_id", "text", n = 3,
      minSpanTokens = 4)(gapDocs)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // doc 1's merged 6-token span survives; doc 2's two 3-token spans drop
    assert(filtered === Array((1L, 6L)))
    // values <= n are no-ops: the minimum possible span is n tokens
    assert(TextOps.duplicateSpans("doc_id", "text", n = 3,
      minSpanTokens = 3)(gapDocs).count() === 3)
  }

  test("duplicateSpans refuses invalid n and minDocs") {
    intercept[IllegalArgumentException] {
      TextOps.duplicateSpans("doc_id", "text", n = 0)(gapDocs)
    }
    intercept[IllegalArgumentException] {
      TextOps.duplicateSpans("doc_id", "text", n = 3, minDocs = 1)(gapDocs)
    }
  }

  test("stripDuplicateSpans: canon doc keeps all tokens, exact dup strips to empty") {
    val docs = Seq(
      (1L, "a b c d e f"),   // min doc_id: canonical holder of every gram
      (2L, "a b c d e f"),   // exact duplicate: fully stripped
      (3L, "x y a b c w"),   // shares only "a b c" (pos 2..4)
      (4L, "p q")            // shorter than n: untouched
    ).toDF("doc_id", "text")
    val out = TextOps.stripDuplicateSpans("doc_id", "text", n = 3)(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 6L, 0L, "a b c d e f"),
      (2L, 6L, 6L, ""),
      (3L, 6L, 3L, "x y w"),
      (4L, 2L, 0L, "p q")))
  }

  test("bm25TopK ties break deterministically by id and zero scores drop") {
    val docs = Seq(
      (2L, "apple banana"),  // identical content => identical score
      (1L, "apple banana"),
      (3L, "cherry date"))   // tf = 0 => score 0 => filtered
      .toDF("doc_id", "text")
    val out = TextOps.bm25TopK("doc_id", "text", Seq("apple"), k = 3)(docs)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(out === Array((1L, 1), (2L, 2)))
  }

  test("bm25TopK ranks higher term frequency above lower at equal length") {
    val docs = Seq(
      (1L, "apple apple pie"),
      (2L, "apple tart pie"),
      (3L, "plum tart pie")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK("doc_id", "text", Seq("apple"), k = 2)(docs)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(out === Array(1L, 2L))
  }

  test("bm25PrfTerms: new-term mining from feedback docs, exact tf-sum weights") {
    import graft.ext.TextOps
    val docs = Seq(
      (1L, "apple pie crust butter butter"),  // fb doc for "apple"
      (2L, "apple pie sugar"),                // fb doc for "apple"
      (3L, "plum tart almond"))               // no apple — never feedback
      .toDF("doc_id", "text")
    val index = TextOps.bm25IndexRows("doc_id", "text")(docs)
    val queries = Seq((0L, Seq("apple"))).toDF("query_id", "terms")
    val out = TextOps.bm25PrfTerms(index, TextOps.bm25TermDf(index),
      TextOps.bm25Stats(index), queries, "query_id", "terms",
      fbDocs = 2, fbTerms = 3)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
    // "apple" itself is excluded; weights are exact tf sums across the
    // two feedback docs: pie 1+1=2, butter 2, crust/sugar 1 — top-3 with
    // weight-desc, term-asc ties
    assert(out.toSeq === Seq(("butter", 2.0, 1L, 1), ("pie", 2.0, 2L, 2),
      ("crust", 1.0, 1L, 3)))
    assert(!out.exists(_._1 == "apple"))
    // the loop closes: expanded bags feed straight back into the serve
    val expanded = Seq((0L, Seq("apple", "butter", "pie")))
      .toDF("query_id", "terms")
    assert(TextOps.bm25ServeTopK(index, TextOps.bm25TermDf(index),
      TextOps.bm25Stats(index), expanded, "query_id", "terms",
      k = 3).count() > 0)
    intercept[IllegalArgumentException] {
      TextOps.bm25PrfTerms(index, TextOps.bm25TermDf(index),
        TextOps.bm25Stats(index), queries, "query_id", "terms",
        fbDocs = 0)
    }
  }

  test("bm25TopK refuses empty query terms and non-positive k") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.bm25TopK("doc_id", "text", Nil, k = 1)(docs)
    }
    intercept[IllegalArgumentException] {
      TextOps.bm25TopK("doc_id", "text", Seq("a"), k = 0)(docs)
    }
  }

  private val dupText = "the quick brown fox jumps over the lazy dog"

  test("crossCorpusNearDuplicates never pairs within a side") {
    val left = Seq((1L, dupText), (2L, dupText)).toDF("doc_id", "text")
    val right = Seq((10L, dupText)).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDuplicates("doc_id", "text",
      threshold = 0.5)(left, right)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // both left dups pair with the right doc; (1,2) is invisible
    assert(pairs.sorted === Array((1L, 10L), (2L, 10L)))
  }

  test("crossCorpusNearDuplicates bucket cap applies per side") {
    val left = Seq((1L, dupText), (2L, dupText)).toDF("doc_id", "text")
    val right = Seq((10L, dupText)).toDF("doc_id", "text")
    // identical docs share every band bucket: left holds 2 > maxBucket=1,
    // so every candidate bucket is suppressed even though right fits
    assert(Dedup.crossCorpusNearDuplicates("doc_id", "text",
      threshold = 0.5, maxBucket = 1)(left, right).count() === 0)
  }

  test("crossCorpusNearDuplicates drops id collisions instead of self-pairs") {
    val left = Seq((1L, dupText)).toDF("doc_id", "text")
    val right = Seq((1L, dupText), (2L, dupText)).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDuplicates("doc_id", "text",
      threshold = 0.5)(left, right)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs === Array((1L, 2L))) // no (1,1)
  }

  test("span-dedup and retrieval operators run as transforms") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c z d e f"))
      .toDF("doc_id", "text")
    assert(docs.transform(TextOps.duplicateSpans("doc_id", "text", n = 3))
      .count() === 3)
    assert(docs.transform(TextOps.stripDuplicateSpans("doc_id", "text", n = 3))
      .count() === 2)
    assert(docs.transform(TextOps.bm25TopK("doc_id", "text", Seq("z"), k = 1))
      .select("doc_id").as[Long].collect() === Array(2L))
    val right = Seq((10L, dupText)).toDF("doc_id", "text")
    assert(Dedup.crossCorpusNearDuplicates("doc_id", "text", threshold = 0.5)(
      Seq((1L, dupText)).toDF("doc_id", "text"), right).count() === 1)
  }

  test("stripSelfRepeats drops later in-doc occurrences, keeps the first") {
    val docs = Seq(
      (1L, "a b a b a b"),       // bigram "a b" repeats; "b a" repeats
      (2L, "x y z w"),           // no repeats
      (3L, "p q p q r p q")      // "p q" at 0, 2, 5
    ).toDF("doc_id", "text")
    val out = TextOps.stripSelfRepeats("doc_id", "text", n = 2)(docs)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // doc 1: grams (0,"a b") (1,"b a") (2,"a b") (3,"b a") (4,"a b");
    // later occurrences at 2,3,4 cover tokens 2..5 -> "a b" remains
    assert(out(0) === ((1L, 6L, 4L, "a b")))
    assert(out(1) === ((2L, 4L, 0L, "x y z w")))
    // doc 3: "p q" repeats at 2 and 5 -> tokens 2,3 and 5,6 drop
    assert(out(2) === ((3L, 7L, 4L, "p q r")))

    // composes with cross-doc stripping: a doc that is pure self-repeat
    // of a passage another doc owns ends empty after both passes
    val both = TextOps.stripSelfRepeats("doc_id", "clean_text", n = 2)(
      TextOps.stripDuplicateSpans("doc_id", "text", n = 2)(
        Seq((1L, "m n m n"), (2L, "m n")).toDF("doc_id", "text")))
    assert(both.filter(col("doc_id") === 2).select("clean_text")
      .as[String].head() === "")
  }

  test("bm25BatchTopK matches the literal-terms form on a single-term query") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian elderberry fig")
    ).toDF("doc_id", "text")
    val queries = Seq((7L, Seq("apple"))).toDF("query_id", "terms")
    val batch = TextOps.bm25BatchTopK("doc_id", "text", queries,
      "query_id", "terms", k = 3)(docs)
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    val single = TextOps.bm25TopK("doc_id", "text", Seq("apple"), k = 3)(docs)
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    // same candidates, same ranking, BIT-identical scores
    assert(batch.toSeq === single.toSeq)

    // multi-query: each query ranks independently; non-matching docs absent
    val multi = TextOps.bm25BatchTopK("doc_id", "text",
      Seq((0L, Seq("apple")), (1L, Seq("fig", "cherry")))
        .toDF("query_id", "terms"),
      "query_id", "terms", k = 3)(docs)
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(multi === Set((0L, 1L, 1), (0L, 2L, 2),
      (1L, 2L, 1), (1L, 3L, 2)))
    // determinism: identical scores on a rerun (fold order is pinned)
    val again = TextOps.bm25BatchTopK("doc_id", "text", queries,
      "query_id", "terms", k = 3)(docs)
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(again.toSeq === batch.toSeq)
  }

  test("stripContaminatedSpans removes only the benchmark spans") {
    val bench = Seq((100L, "the secret eval answer is forty two")).toDF("bid", "text")
    val batch = Seq(
      (1L, "intro words then the secret eval answer is forty two and more"),
      (2L, "totally clean document with original content here"),
      (3L, "the secret eval answer is forty two")  // pure contamination
    ).toDF("doc_id", "text")
    val out = TextOps.stripContaminatedSpans("doc_id", "text", n = 4,
      benchmark = bench, benchTextField = "text")(batch)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // doc 1: the 7-token quoted passage strips, the frame survives
    assert(out(0)._4 === "intro words then and more")
    assert(out(0)._3 === 7L)
    // doc 2: untouched
    assert(out(1) === ((2L, 7L, 0L,
      "totally clean document with original content here")))
    // doc 3: fully contaminated -> empty
    assert(out(2) === ((3L, 7L, 7L, "")))
  }

  test("strip ops keep NULL-text docs as (id, 1, 0, \"\")") {
    // tokens(NULL) is NULL and posexplode of NULL emits nothing, so a
    // NULL-text doc would silently vanish from the rebuild; the strip
    // ops coalesce to "" first, and "" tokenizes to [""] — one empty
    // token row that survives as (n_tokens=1, n_removed=0, "")
    val docs = Seq((1L, "a b c d a b c d"), (2L, null: String))
      .toDF("doc_id", "text")
    for (out <- Seq(
        TextOps.stripSelfRepeats("doc_id", "text", n = 3)(docs),
        TextOps.stripDuplicateSpans("doc_id", "text", n = 3)(docs),
        TextOps.stripContaminatedSpans("doc_id", "text", n = 3,
          benchmark = Seq("x y z").toDF("text"), benchTextField = "text")(
          docs))) {
      val rows = out.orderBy("doc_id")
        .select("doc_id", "n_tokens", "n_removed", "clean_text")
        .as[(Long, Long, Long, String)].collect()
      assert(rows.length === 2, "NULL-text doc must not vanish")
      assert(rows(1) === ((2L, 1L, 0L, "")))
    }
  }

  test("mixing and dedup operators run as transforms") {
    val docs = Seq((1L, "a b c d", "s1"), (2L, "e f g h", "s1"))
      .toDF("doc_id", "text", "source")
    assert(docs.transform(TextOps.tokenBudgetMix("doc_id", "text", "source",
      tokensPerSource = 4)).count() === 1)
    assert(docs.transform(TextOps.sourceOverlap("source", "text", n = 2))
      .count() === 0) // one source, no pairs
    val vecs = Seq((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    assert(vecs.transform(Dedup.semanticDedup("vec_id", "embedding",
      threshold = 0.9, planes = 2, dim = 8)).count() === 1)
    assert(docs.transform(Dedup.clusterDedupByQuality("doc_id", "text",
        TextOps.qualityScore(col("text")), threshold = 0.9, shingleSize = 2))
      .count() === 2) // no near-dups: both survive
    assert(docs.transform(TextOps.packTexts("doc_id", "text", "source",
      budget = 8)).count() === 1) // both docs fit one s1 bin
    assert(docs.transform(TextOps.unigramCfQuality("doc_id", "text"))
      .count() === 2)
  }

  test("eval, selection and QA operators run as transforms") {
    import org.apache.spark.sql.functions.col
    import graft.ext.Similarity
    import graft.ops.{Ops, TemporalOps, WindowOps}
    import graft.probes.Probes
    val docs = Seq((1L, "a b c d e", "en"), (2L, "a b c d e", "en"),
      (3L, "x y z w v", "de")).toDF("doc_id", "text", "lang")
    assert(docs.transform(Dedup.lshRecallEval("doc_id", "text",
      threshold = 0.5, configs = Seq((8, 4)), shingleSize = 2))
      .count() === 1)
    assert(docs.transform(TextOps.tfidfCosinePairs("doc_id", "text",
      threshold = 0.5)).count() >= 1)
    assert(docs.transform(TextOps.collocations("text", minCount = 2, k = 5))
      .count() >= 1)
    assert(Seq((1L, "pay 4111111111111111 now")).toDF("id", "t")
      .withColumn("t", TextOps.scrubCards(col("t")))
      .head().getString(1).contains("<CARD>"))
    assert(docs.withColumn("q", col("doc_id").cast("double"))
      .withColumn("c", -col("doc_id"))
      .transform(Ops.paretoFront("q", "c")).count() >= 1)
    assert(docs.transform(Probes.labelAgreement(col("lang"), col("lang")))
      .head().getDouble(4) === 1.0) // self-agreement: kappa 1
    assert(docs.withColumn("s", col("doc_id") / 10.0)
      .withColumn("y", col("doc_id") > 1)
      .transform(Probes.scoreCalibration(col("s"), col("y"), bins = 2))
      .count() >= 1)
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i * d % 5).toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.ivfRecallEval(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 3), "vec_id", "embedding", k = 2,
      nCentroids = 2, nprobes = Seq(1, 2)).count() === 2)
    val basis = Similarity.pcaBasis(vecs, "embedding", k = 2)
    assert(vecs.transform(Similarity.pcaProject("embedding", basis))
      .head().getSeq[Float](2).length === 2)
    assert(docs.transform(Probes.confusionMatrix(col("lang"), col("lang")))
      .count() === 2)
    val robots = Seq(("h", "User-agent: *\nDisallow: /x"))
      .toDF("host", "robots")
    val rules = robots.transform(TextOps.robotsRules("host", "robots"))
    assert(rules.count() === 1)
    val urls = Seq((1L, "https://h/x/1", 1), (2L, "https://h/ok", 2))
      .toDF("id", "url", "pri")
    assert(urls.transform(TextOps.robotsFilter("id", "url", rules))
      .count() === 1)
    assert(urls.transform(TextOps.crawlSchedule("id", "url", "pri", 1))
      .select("fetch_slot").as[Int].collect().sorted.toSeq === Seq(0, 1))
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"),
      "a", 1.0, 1L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:01:00"), "b", 2.0, 2L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:02:00"), "c", 3.0, 3L))
      .toDF("user_id", "ts", "event_type", "value", "event_id")
    assert(ev.transform(WindowOps.eventPaths("user_id", "ts", "event_type",
      tieBreak = Seq("event_id"))).count() === 1)
    assert(ev.transform(Ops.histogram2d("value", 0.0, 4.0, 2,
      "value", 0.0, 4.0, 2)).count() === 2)
    assert(ev.transform(TemporalOps.ohlcBuckets("ts", "value", "1 hour",
      tieBreak = Seq("event_id"))).head().getDouble(1) === 1.0)
    assert(ev.transform(Probes.concentration(Seq("user_id"), "event_type"))
      .head().getLong(1) === 3L)
    assert(ev.withColumn("v", col("value").cast("long"))
      .transform(Probes.gini(Seq("user_id"), "v")).count() === 1)
    assert(ev.transform(Ops.imputeMedian("value")).count() === 3)
    assert(ev.transform(TemporalOps.decayedCounts(Seq("event_type"), "ts",
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 86400L))
      .count() === 3)
    assert(ev.transform(WindowOps.burstiness("user_id", "ts",
      tieBreak = Seq("event_id"))).head().getLong(2) === 2L)
    assert(ev.transform(WindowOps.activityProfile("event_type", "ts"))
      .count() === 3)
    assert(vecs.transform(Similarity.embeddingProfile("embedding"))
      .count() === 8)
    val alloc = ev.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .transform(Ops.proportionalAllocate("event_type", "n", total = 9L))
    assert(alloc.agg(org.apache.spark.sql.functions.sum("allocation"))
      .head().getLong(0) === 9L)
  }

  test("duplicateSpanMask is the exact complement of stripDuplicateSpans") {
    import graft.ext.TextOps
    val docs = Seq(
      (1L, "a b c x d e f"),
      (2L, "z a b c y q r"),   // shares "a b c" with doc 1 (canon)
      (3L, "unrelated words only here"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val strip = TextOps.stripDuplicateSpans("doc_id", "text", n = 3)(docs)
      .select("doc_id", "n_tokens", "n_removed")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val mask = TextOps.duplicateSpanMask("doc_id", "text", n = 3)(docs)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getSeq[Int](3)))).toMap
    // same docs, same token counts, n_masked == n_removed, and the
    // mask zeros exactly n_masked positions
    assert(mask.keySet === strip.keySet)
    for ((id, (nt, nm, km)) <- mask) {
      assert(nt === strip(id)._2, s"doc $id n_tokens")
      assert(nm === strip(id)._3, s"doc $id n_masked vs n_removed")
      assert(km.length.toLong === nt)
      assert(km.count(_ == 0).toLong === nm)
    }
    // the non-canon copy of "a b c" is masked at its own positions:
    // doc 2 holds it at tokens 1..3
    assert(mask(2L)._3 === Seq(1, 0, 0, 0, 1, 1, 1))
    assert(mask(1L)._3.forall(_ == 1)) // canon doc keeps everything
    assert(mask(4L) === ((1L, 0L, Seq(1)))) // NULL text -> [""] kept
  }

  test("boilerplateLines strips within-group repeats only; small groups are immune") {
    // "nav menu" repeats within site A (3 of 4 docs, in-doc repeat in
    // doc 1 counts ONCE -> df=3/4 >= 0.5) and appears once on site B —
    // site-local boilerplate must vanish from A only. Site B has one
    // line in every doc ("footer") but only 2 docs < minDocs=3: immune.
    val docs = Seq(
      (1L, "A", "nav menu\nreal one\nnav menu"),
      (2L, "A", "nav menu\nreal two"),
      (3L, "A", "nav menu"),
      (4L, "A", "real four"),
      (5L, "B", "nav menu\nfooter"),
      (6L, "B", "footer\nreal six")
    ).toDF("doc_id", "site", "text")
    val out = TextOps.boilerplateLines("doc_id", "site", "text",
      minDocFrac = 0.5, minDocs = 3)(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(out === Array(
      (1L, "A", 3L, 2L, "real one"),
      (2L, "A", 2L, 1L, "real two"),
      (3L, "A", 1L, 1L, ""),
      (4L, "A", 1L, 0L, "real four"),
      (5L, "B", 2L, 0L, "nav menu\nfooter"), // B too small to strip
      (6L, "B", 2L, 0L, "footer\nreal six")))
    // df counts DOCUMENTS: doc 1's double "nav menu" cannot push df to
    // the threshold on its own — at frac 0.8 (needs df >= 3.2 of 4) A
    // survives too
    val lax = TextOps.boilerplateLines("doc_id", "site", "text",
      minDocFrac = 0.8, minDocs = 3)(docs)
      .orderBy("doc_id").select("n_removed").as[Long].collect()
    assert(lax.toSeq === Seq(0L, 0L, 0L, 0L, 0L, 0L))
    intercept[IllegalArgumentException](
      TextOps.boilerplateLines("doc_id", "site", "text", minDocs = 1)(docs))
  }

  test("kFold: stable content-keyed folds that partition the corpus and agree with hashSplit's hash") {
    val df = spark.range(0, 1000).toDF("id")
    val folds = df.select(col("id"), TextOps.kFold(col("id"), 5).as("fold"))
    val counts = folds.groupBy("fold").count().orderBy("fold")
      .as[(Long, Long)].collect()
    assert(counts.map(_._1).toSeq === (0L until 5L))  // all folds hit
    assert(counts.map(_._2).sum === 1000L)            // exact partition
    assert(counts.map(_._2).min > 100L)               // roughly balanced
    // growing the corpus never moves an existing row's fold
    val before = folds.as[(Long, Long)].collect().toMap
    val after = spark.range(0, 2000).toDF("id")
      .select(col("id"), TextOps.kFold(col("id"), 5).as("fold"))
      .as[(Long, Long)].collect().toMap
    assert(before.forall { case (id, f) => after(id) == f })
    intercept[IllegalArgumentException](TextOps.kFold(col("id"), 1))
  }
}
