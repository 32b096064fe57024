package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}
import graft.probes.Probes

/** The whole-pipeline composition test: every stage of a real
  * training-data assembly chained on the sf0.001 fixture, asserting the
  * invariants a pipeline operator relies on between stages (row
  * conservation/attrition, schema contracts, end-to-end determinism).
  * Individual operators are verified by their own specs and the DuckDB
  * oracle; THIS spec pins that they compose — the "a user of the
  * reference could switch" property. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("funnel -> gate -> strip -> dedup -> decontaminate -> split -> mix -> pack composes") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()
    assert(total > 0)

    // 1. attrition report on the raw corpus (observability, not a filter)
    val funnel = Probes.filterFunnel(Seq(
      "min_tokens" -> (TextOps.tokenCount(col("text")) >= 10),
      "english" -> (col("lang") === "en")))(docs)
      .select("rule", "pass_count", "surviving_count", "total")
      .as[(String, Long, Long, Long)].collect()
    assert(funnel.length === 2 && funnel.forall(_._4 === total))
    assert(funnel(1)._3 <= funnel(0)._3) // the funnel narrows

    // 2. quality gate
    val gated = TextOps.withQuality("text")(docs)
      .filter(col("quality") > 0.2)
    val nGated = gated.count()
    assert(nGated > 0 && nGated <= total)

    // 3. span-level cleanup (cross-doc passages, then in-doc loops)
    val crossClean = TextOps.stripDuplicateSpans("doc_id", "text", n = 8)(gated)
    assert(crossClean.count() === nGated) // strip never drops documents
    val cleaned = TextOps.stripSelfRepeats("doc_id", "clean_text", n = 3)(
      crossClean.select("doc_id", "clean_text"))
      .withColumnRenamed("clean_text", "text")
    assert(cleaned.count() === nGated)

    // 4. near-dup cluster dedup on the CLEANED text, lowest id kept
    val deduped = Dedup.clusterDedup("doc_id", "text", threshold = 0.2)(
      cleaned.select("doc_id", "text"))
    val nDeduped = deduped.count()
    assert(nDeduped > 0 && nDeduped <= nGated)

    // 5. decontaminate against an "eval set" carved from the corpus: the
    // eval docs' own survivors must all be flagged out (they share every
    // gram with themselves)
    val evalSet = docs.filter(col("doc_id") < 3).select("text")
    val decon = TextOps.decontaminate("doc_id", "text", n = 8,
      benchmark = evalSet, benchTextField = "text")(deduped)
    val nDecon = decon.count()
    assert(nDecon <= nDeduped)

    // 6. leakage-safe split on the surviving corpus
    val split = Dedup.clusterSafeSplit("doc_id", "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      threshold = 0.2)(decon)
    assert(split.count() === nDecon) // routing drops nothing
    assert(split.select("split").distinct().as[String].collect()
      .toSet.subsetOf(Set("train", "val", "test")))

    // 7. per-source token-budget mix of the train partition (the strip
    // stages return the (id, counts, clean_text) contract, so metadata
    // columns like source re-join from the upstream table by id)
    val train = split.filter(col("split") === "train")
      .join(docs.select("doc_id", "source"), "doc_id")
    val mixed = TextOps.tokenBudgetMix("doc_id", "text", "source",
      tokensPerSource = 500)(train)
    assert(mixed.count() <= train.count())
    assert(mixed.select(max("cum_tokens")).as[Long].head() <= 500L)

    // 8. pack the mixed selection into training bins
    val packed = TextOps.packTexts("doc_id", "text", "source",
      budget = 256)(
      train.join(mixed.select("doc_id"), "doc_id"))
    assert(packed.count() > 0)
    assert(packed.select(max("n_tokens")).as[Long].head() <= 500L)

    // end-to-end determinism: the full chain reselects the identical
    // document set on a rerun
    val rerun = {
      val g = TextOps.withQuality("text")(docs).filter(col("quality") > 0.2)
      val cc = TextOps.stripDuplicateSpans("doc_id", "text", n = 8)(g)
      val cl = TextOps.stripSelfRepeats("doc_id", "clean_text", n = 3)(
        cc.select("doc_id", "clean_text"))
        .withColumnRenamed("clean_text", "text")
      val dd = Dedup.clusterDedup("doc_id", "text", threshold = 0.2)(
        cl.select("doc_id", "text"))
      TextOps.decontaminate("doc_id", "text", n = 8,
        benchmark = evalSet, benchTextField = "text")(dd)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(rerun === decon.select("doc_id").as[Long].collect().toSet)
  }

  test("crawl curation: url -> domain quota -> model gate -> compression gate -> media route -> shuffle export") {
    import graft.ext.Similarity
    import graft.ops.{Ops, TemporalOps}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()

    // 1. manifest: synthetic per-doc URLs decompose; registered domain
    // becomes the per-site key
    val withUrl = docs.withColumn("url", concat(lit("https://"),
      element_at(array(lit("www"), lit("cdn")),
        (col("doc_id") % 2 + 1).cast("int")),
      lit("."), element_at(array(lit("example.com"), lit("example.co.uk"),
        lit("data.io")), (col("doc_id") % 3 + 1).cast("int")),
      lit("/p/"), col("doc_id").cast("string")))
    val parts = TextOps.urlParts("doc_id", "url")(withUrl)
    assert(parts.count() === total)
    val domains = parts.select("registered_domain").distinct()
      .as[String].collect().toSet
    assert(domains === Set("example.com", "example.co.uk", "data.io"))

    // 2. politeness/volume quota per registered domain
    val quotaed = Ops.quotaSample("registered_domain", "doc_id", n = 100)(
      parts.join(docs, "doc_id"))
    assert(quotaed.groupBy("registered_domain").count()
      .select("count").as[Long].collect().forall(_ <= 100))

    // 3. model-based quality gate (linear classifier) on the survivors
    val scored = TextOps.linearTextScore("doc_id", "text",
      TextOps.demoQualityWeights, bias = 0.25, threshold = 0.0)(quotaed)
    assert(scored.count() === quotaed.count())
    val kept = scored.filter(col("pass")).select("doc_id")
    assert(kept.count() > 0)

    // 4. compression-ratio gate drops the degenerate tails
    val comp = TextOps.compressionSignal("doc_id", "text")(
      docs.join(kept, "doc_id"))
    val inBand = comp.filter(
      col("compression_ratio").between(0.2, 0.95)).select("doc_id")
    assert(inBand.count() > 0 && inBand.count() <= kept.count())

    // 5. multimodal routing: header metadata decides which blobs would
    // reach a real decoder (here: synthetic PNGs parse, text doesn't)
    val blobs = docs.join(inBand, "doc_id").withColumn("blob",
      when(col("doc_id") % 2 === 0, graft.ext.BinaryOps.syntheticPng(
        lit(64), lit(64))).otherwise(graft.ext.BinaryOps.toBlob(col("text"))))
    val routed = graft.ext.BinaryOps.mediaMetadata("doc_id", "blob")(blobs)
    val pngs = routed.filter(col("format") === "png")
    assert(pngs.count() === blobs.filter(col("doc_id") % 2 === 0).count())

    // 6. overlap observability across sources via theta set algebra
    val st = Ops.aggregateStateTheta(Seq("source"), Seq("doc_id"))(
      docs.join(inBand, "doc_id"))
    assert(st.count() === docs.join(inBand, "doc_id")
      .select("source").distinct().count())

    // 7. deterministic epoch shuffle closes the export; rank is a
    // permutation and rerun-identical
    val export1 = Ops.shuffleRank("doc_id")(docs.join(inBand, "doc_id"))
    val ranks = export1.select("shuffle_rank").as[Long].collect().sorted
    assert(ranks.toSeq === (1L to ranks.length))
    val export2 = Ops.shuffleRank("doc_id")(docs.join(inBand, "doc_id"))
    assert(export1.select("doc_id", "shuffle_rank").collect().toSet ===
      export2.select("doc_id", "shuffle_rank").collect().toSet)
  }

  test("gopher gate -> percentile calibration -> downsample -> truncate composes") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()

    // 1. rule battery is observability: one row per doc, then the caller
    // chooses which verdicts to gate on
    val rules = TextOps.gopherRules("doc_id", "text")(docs)
    assert(rules.count() === total)
    val keep = rules.filter(col("pass_repetition") === 1L
      && col("pass_alpha") === 1L).select("doc_id")
    val nKeep = keep.count()
    assert(nKeep > 0 && nKeep <= total)

    // 2. per-source percentile calibration of the quality score: the
    // "top half of every source" gate no global threshold can express
    val scored = TextOps.scorePercentiles("source", "quality")(
      TextOps.withQuality("text")(docs.join(keep, "doc_id")))
    assert(scored.count() === nKeep) // calibration drops nothing
    val pcts = scored.select("score_pct").as[Double].collect()
    assert(pcts.forall(p => p >= 0.0 && p <= 1.0))
    val top = scored.filter(col("score_pct") >= 0.5)
    assert(top.count() > 0 && top.count() < nKeep)

    // 3. novelty joins on as a weighting signal, one row per doc, [0,1]
    val nov = TextOps.noveltyScores("doc_id", "text")(docs)
    assert(nov.count() === total)
    assert(nov.select("novelty").as[Double].collect()
      .forall(v => v >= 0.0 && v <= 1.0))

    // 4. drop-to-target mixing keeps only targeted sources, a subset of
    // its input, deterministically
    val sampled = TextOps.downsampleToTargets("doc_id", "source", "text",
      Map("src0" -> 0.2, "src1" -> 0.1))(
      top.select("doc_id", "text", "source"))
    val srcs = sampled.select("source").distinct().as[String].collect().toSet
    assert(srcs.subsetOf(Set("src0", "src1")))
    val topIds = top.select("doc_id").as[Long].collect().toSet
    val sampledIds = sampled.select("doc_id").as[Long].collect().toSet
    assert(sampledIds.subsetOf(topIds))

    // 5. context-window truncation: row-conserving, never grows a doc
    val trunc = TextOps.truncateTokens("text", maxTokens = 30)(sampled)
    assert(trunc.count() === sampled.count())
    val widths = trunc.select(
      TextOps.tokenCount(col("text_trunc")).cast("long"), col("n_tokens"))
      .as[(Long, Long)].collect()
    assert(widths.forall { case (w, n) => w <= 30L.min(n).max(1L) })

    // 6. histogram observability on the final selection conserves counts
    val hist = TextOps.tokenHistogram("source", "text")(sampled)
    assert(hist.agg(sum("n_docs")).as[Long].head() === sampled.count())

    // end-to-end determinism of the selection
    val rerun = TextOps.downsampleToTargets("doc_id", "source", "text",
      Map("src0" -> 0.2, "src1" -> 0.1))(
      top.select("doc_id", "text", "source"))
      .select("doc_id").as[Long].collect().toSet
    assert(rerun === sampledIds)
  }

  test("normalize -> repetition battery -> LM + affinity scoring -> salted join composes") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()

    // 1. normalization pass first — fingerprints downstream assume one
    // canonical spelling (ASCII fixture: must be a bit-identical no-op)
    val normed = docs.withColumn("text", TextOps.normalizeText(col("text")))
    assert(normed.filter(!(col("text") <=> TextOps.stripAccents(col("text"))))
      .count() === 0L) // ASCII: strip-accents is also identity
    assert(normed.count() === total)

    // 2. full Gopher repetition battery gates looping/templated docs
    val rep = TextOps.gopherRepetition("doc_id", "text")(normed)
    assert(rep.count() === total)   // a REPORT — never drops rows
    val keep = rep.filter(col("dup_5gram_char_frac") <= 0.9)
      .select("doc_id")
    val kept = normed.join(keep, "doc_id")
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= total)

    // 3. two quality scores on the survivors; both cover every row
    val lm = TextOps.bigramLmQuality("doc_id", "text")(kept)
    assert(lm.count() === nKept)
    val target = normed.filter(col("source") === "src0")
    val aff = TextOps.targetAffinity("doc_id", "text", n = 2,
      target, "text")(kept)
    assert(aff.count() === nKept)

    // 4. the two score frames meet in a salted join (doc_id is unique,
    // so the salted result must match the plain join row-for-row)
    val joined = graft.ops.Ops.saltedJoin(
      aff.select(col("doc_id"), col("affinity")), Seq("doc_id"),
      buckets = 4)(lm)
    assert(joined.count() === nKept)
    // composite selection: top half by LM score among target-affine docs
    val selected = joined
      .filter(col("affinity") >= 0.0 || col("lm_score") > 0.0)
    assert(selected.count() > 0L)

    // 5. per-source fertility report over the final selection is exact
    // about its own inputs
    val fert = TextOps.tokenizerFertility("source", "text")(
      normed.join(selected.select("doc_id"), "doc_id"))
    val fertTotal = fert.agg(sum("n_docs")).as[Long].head()
    assert(fertTotal === selected.count())
  }

  test("the incremental-index triad composes across two crawls in all three modalities") {
    // the recurring-crawl story end to end: crawl 1 persists ONLY its
    // index rows (text signatures / embedding codes / blob hashes),
    // crawl 2 — which re-fetches one crawl-1 item under a new id —
    // dedupes against them. Pinned per modality: the re-fetch drops,
    // survivors are deterministic, and appending the survivors' own
    // rows then re-running the batch is IDEMPOTENT (the property that
    // makes "index += survivors" a safe steady-state update rule).
    import graft.ext.{BinaryOps, Similarity}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")

    def splitWithRefetch(df: org.apache.spark.sql.DataFrame, id: String) = {
      val crawl1 = df.filter(col(id) % 2 === 0)
      val planted = crawl1.orderBy(id).limit(1)
        .select((Seq(lit(900000L).as(id)) ++
          df.columns.filterNot(_ == id).map(col)): _*)
      (crawl1, df.filter(col(id) % 2 === 1).unionByName(planted))
    }

    // text: MinHash signature index
    locally {
      val (c1, c2) = splitWithRefetch(docs, "doc_id")
      val idx = Dedup.minhashIndexRows("doc_id", "text")(c1)
      val surv = Dedup.incrementalNearDup("doc_id", "text", idx,
        threshold = 0.9)(c2)
      assert(surv.filter($"doc_id" === 900000L).count() === 0)
      val ids = surv.select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids.nonEmpty && ids.size < c2.count())
      val idx2 = idx.unionByName(
        Dedup.minhashIndexRows("doc_id", "text")(surv))
      val again = Dedup.incrementalNearDup("doc_id", "text", idx2,
        threshold = 0.9)(c2).select("doc_id").as[Long].collect().sorted.toSeq
      assert(again === ids)
    }

    // embeddings: int8 code index
    locally {
      val (c1, c2) = splitWithRefetch(embs, "vec_id")
      val idx = Dedup.embeddingIndexRows("vec_id", "embedding")(c1)
      val surv = Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
        idx, threshold = 0.99)(c2)
      assert(surv.filter($"vec_id" === 900000L).count() === 0)
      val ids = surv.select("vec_id").as[Long].collect().sorted.toSeq
      assert(ids.nonEmpty && ids.size < c2.count())
      val idx2 = idx.unionByName(
        Dedup.embeddingIndexRows("vec_id", "embedding")(surv))
      val again = Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
        idx2, threshold = 0.99)(c2)
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(again === ids)
    }

    // binary: perceptual hash index (text bytes as the blob fixture)
    locally {
      val blobs = docs.select($"doc_id",
        BinaryOps.toBlob($"text").as("blob"))
      val (c1, c2) = splitWithRefetch(blobs, "doc_id")
      val idx = BinaryOps.phashIndexRows("doc_id", "blob")(c1)
      val surv = BinaryOps.incrementalPerceptualDedup("doc_id", "blob",
        idx, maxHamming = 3)(c2)
      assert(surv.filter($"doc_id" === 900000L).count() === 0)
      val ids = surv.select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids.nonEmpty && ids.size < c2.count())
      val idx2 = idx.unionByName(
        BinaryOps.phashIndexRows("doc_id", "blob")(surv))
      val again = BinaryOps.incrementalPerceptualDedup("doc_id", "blob",
        idx2, maxHamming = 3)(c2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(again === ids)
    }
  }

  test("recurring-crawl lifecycle: store-backed dedup state + growing ANN index") {
    // The full production loop through REAL persisted state: crawl 1
    // seeds the dedup index and the ANN index through a store; crawl 2
    // (novel vectors + a re-embed of history) is deduped in one ingest
    // call, its survivors appended to the ANN index, the layout
    // compacted — and a pruned query over the stored index then serves
    // neighbors from BOTH crawls, identical to an index rebuilt from
    // scratch over everything kept.
    import graft.ext.{IncrementalIndex, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e_ann").toString
    try {
      val store = graft.sources.ParquetStore(spark, dir)
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val cents = Similarity.standinCentroids(e, "vec_id", "embedding", 8)
      val crawl1 = e.filter($"vec_id" % 2 === 0)
      val refetch = crawl1.limit(1)
        .select(($"vec_id" + 900000L).as("vec_id"), $"embedding")
      val crawl2 = e.filter($"vec_id" % 2 =!= 0).unionByName(refetch)
      // dedup state: int8 code index through the store
      val dedupIdx = IncrementalIndex.embedding(store, "codes",
        "vec_id", "embedding", threshold = 0.99)
      dedupIdx.create(crawl1)
      // ANN state: cell-partitioned IVF-PQ index through the store
      Similarity.ivfPqSave(Similarity.ivfPqIndexRows(
        crawl1, "vec_id", "embedding", cents, cents, m = 8), store, "ann")
      // crawl 2: one ingest call dedupes and updates the dedup state
      val kept = dedupIdx.ingest(crawl2)
      assert(kept.filter($"vec_id" === 900000L).count() === 0,
        "re-embedded history survived the dedup gate")
      assert(kept.count() > 0)
      // survivors grow the ANN index; compaction keeps it healthy
      Similarity.ivfPqAppend(store, "ann", kept, "vec_id", "embedding",
        cents, cents, m = 8)
      store.compact("ann", partitionCols = Seq("cell"))
      // a pruned query over the stored index == a fresh rebuild over
      // everything kept, and it serves results from both crawls
      val corpus = crawl1.unionByName(kept)
      val queries = corpus.limit(5)
      def top(index: Option[org.apache.spark.sql.DataFrame], prune: Boolean) =
        Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding",
          coarseCentroids = cents, nprobe = 2,
          pqCentroids = cents, m = 8, k = 3, rerank = 10,
          index = index, pruneIndexPartitions = prune)
          .select($"query_id".cast("long"), $"item_id".cast("long"), $"rank")
          .as[(Long, Long, Int)].collect().sortBy(t => (t._1, t._3))
      val stored = top(Some(Similarity.ivfPqLoad(store, "ann")), prune = true)
      assert(stored === top(None, prune = false))
      val served = stored.map(_._2).toSet
      assert(served.exists(_ % 2 == 0) && served.exists(_ % 2 != 0),
        s"neighbors should span both crawls, got $served")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("ML prep: learned tokenizer -> persisted model -> balanced, split, monitored export") {
    import graft.ext.{ModelStore, Similarity, TextOps}
    import graft.ops.{Ops, TemporalOps}
    implicit val s = spark
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")

    // 1. train a corpus-specific BPE table, persist it, load it back —
    // billing with the loaded model matches the in-memory one
    val merges = TextOps.learnBpeMerges("text", numMerges = 12)(docs)
    assert(merges.length === 12)
    val store = new graft.sources.MemoryStore(spark)
    ModelStore.saveMerges(store, "tok", merges)
    val loaded = ModelStore.loadMerges(store, "tok")
    val billed = docs.select(
      TextOps.bpeTokenCount(col("text"), loaded).as("n_bpe"),
      TextOps.tokenCount(col("text")).as("n_ws"))
    // learned merges compress: BPE counts bound above by char count,
    // and the whitespace count is a lower bound
    assert(billed.filter(col("n_bpe") < col("n_ws")).count() === 0)

    // 2. balance languages to the minority class
    val balanced = Ops.balanceClasses("lang", "doc_id")(docs)
    val sizes = balanced.groupBy("lang").count()
      .select("count").as[Long].collect()
    assert(sizes.distinct.length === 1)

    // 3. embargoed temporal split on the event stream feeding features
    val events = spark.read.parquet(s"$sf/events.parquet")
    val split = TemporalOps.temporalSplit("ts", "2024-01-20 00:00:00",
      embargoSeconds = 86400L)(events)
    val bySplit = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet === Set("train", "embargo", "test"))

    // 4. drift monitor between the train and test windows' event mix
    val drift = graft.probes.Probes.categoryDrift("event_type")(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "test"))
    val rows = drift.collect()
    assert(rows.nonEmpty &&
      rows.forall(r => math.abs(r.getDouble(5)) <= 1.0))

    // 5. deterministic shuffle closes the export
    val export = Ops.shuffleRank("doc_id")(balanced)
    assert(export.select("shuffle_rank").as[Long].collect().sorted.toSeq
      === (1L to balanced.count()))
  }

  test("snapshotDiff composed with applyChanges reconstructs the target snapshot") {
    import graft.ops.{Ops, TemporalOps}
    val sf = "/root/testdata/sf0.001"
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val before = o.filter(col("o_orderkey") % 3 =!= 0)
    val after = o.filter(col("o_orderkey") % 4 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    // diff -> change stream: added/changed become upserts carrying the
    // AFTER values, removed becomes a delete; merge onto BEFORE
    val diff = Ops.snapshotDiff(Seq("o_orderkey"),
      Seq("o_orderstatus", "o_totalprice"))(before, after)
    val changes = diff
      .join(after, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        when(col("change_type") === "removed", "D")
          .otherwise("U").as("op"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        col("o_orderkey").as("tb"))
    val rebuilt = TemporalOps.applyChanges(changes, "o_orderkey", "ts",
      "tb", "op")(before)
    // the reconstruction identity: merge(before, diff(before, after))
    // row-sets equal after
    assert(rebuilt.exceptAll(after).count() === 0)
    assert(after.exceptAll(rebuilt).count() === 0)
    assert(rebuilt.count() === after.count())
  }

  test("warehouse chain: SCD2 build -> as-of read side -> funnel/retention composes") {
    import graft.ops.{TemporalOps, WindowOps}
    val sf = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))

    // 1. dimension build: each user's event_type change stream becomes
    // versioned history; current versions = exactly one per user
    val hist = TemporalOps.scd2History("user_id", "ts", Seq("event_type"),
      tieBreak = "event_id")(events)
    val users = events.select("user_id").distinct().count()
    assert(hist.filter(col("is_current") === 1).count() === users)
    // intervals tile: per user, #versions == #closed + 1
    val perUser = hist.groupBy("user_id").agg(count(lit(1)).as("n"),
      sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("open"))
    assert(perUser.filter(col("open") =!= 1L).count() === 0)

    // 2. read side: as-of join each event onto the version valid at its
    // timestamp — every event must land INSIDE its matched interval
    val versions = hist.select(col("user_id"),
      col("event_type").as("v_type"), col("valid_from"), col("valid_to"))
    val read = TemporalOps.asOfJoin(versions, "user_id", "ts", "valid_from",
      rightVals = Seq("v_type", "valid_to"), rightTieBreak = "v_type")(
      events)
    assert(read.filter(col("asof_v_type").isNull).count() === 0)
    assert(read.filter(col("asof_valid_to").isNotNull &&
      col("asof_valid_to") <= col("ts")).count() === 0)

    // 3. product analytics over the same stream: the funnel narrows and
    // the cohort matrix starts every cohort at offset 0
    val funnel = WindowOps.eventFunnel("user_id", "ts", "event_type",
      Seq("signup", "purchase"))(events)
      .orderBy("step").select("users").as[Long].collect()
    assert(funnel.length === 2 && funnel(1) <= funnel(0))
    val cohorts = WindowOps.cohortRetention("user_id", "ts")(events)
    assert(cohorts.filter(col("week_offset") < 0).count() === 0)
    val zeroOffset = cohorts.filter(col("week_offset") === 0)
      .agg(sum("active_users")).head().getLong(0)
    assert(zeroOffset === users) // every user is active in their own first week
  }

  test("metrics pipeline: CDC snapshot -> resample -> ewma/twa -> rollup state composes") {
    import graft.ops.{Ops, TemporalOps, WindowOps}
    val sf = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("v", round(col("value") * 1e2, 0).cast("long"))

    // 1. day-1 / day-2 split: the rollup maintained incrementally must
    // equal the full recompute (the materialized-view identity, on the
    // REAL event stream)
    val cut = events.agg(percentile_approx(unix_micros(col("ts")),
      lit(0.5), lit(1000)).cast("long")).head().getLong(0)
    val day1 = events.filter(unix_micros(col("ts")) < cut)
    val day2 = events.filter(unix_micros(col("ts")) >= cut)
    val keys = Seq("event_type")
    val ms = Seq("v" -> "sum", "v" -> "average", "v" -> "max")
    val merged = Ops.finalizeAggregate(keys, ms)(
      Ops.mergeAggregateStates(keys, ms)(
        Ops.aggregateState(keys, ms)(day1), Ops.aggregateState(keys, ms)(day2)))
    val direct = Ops.aggregate(keys, ms)(events)
    assert(merged.orderBy("event_type").collect().toSeq ===
      direct.orderBy("event_type").collect().toSeq)

    // 2. regularize one user's series and smooth it: the resampled
    // spine is dense, the ewma output covers every event, the TWA is
    // bounded by the raw value range (a weighted mean must be)
    val rs = TemporalOps.resample("user_id", "ts", "v", 21600L, "event_id")(
      events)
    val perUser = rs.groupBy("user_id").agg(count(lit(1)).as("n"),
      (max(unix_micros(col("bucket_ts"))) -
        min(unix_micros(col("bucket_ts")))).as("span"))
    // dense spine: rows per key == span/step + 1, for every key
    assert(perUser.filter(col("n") =!=
      col("span") / 21600000000L + 1).count() === 0)
    val ew = WindowOps.ewmaSmooth("user_id", "ts", "v", 0.3, "event_id")(
      events)
    assert(ew.count() === events.filter(col("ts").isNotNull).count())
    val twa = WindowOps.timeWeightedAvg("user_id", "ts", "v", "event_id")(
      events)
    val bounds = events.agg(min("v"), max("v")).head()
    val (lo, hi) = (bounds.getLong(0).toDouble, bounds.getLong(1).toDouble)
    assert(twa.filter(col("twa") < lo || col("twa") > hi).count() === 0)

    // 3. a CDC day rolls the per-user LATEST-value snapshot forward:
    // applying day-2 as changes to the day-1 snapshot equals building
    // the snapshot from the full stream
    def latestSnapshot(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("ts").isNotNull)
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("__rk") === 1).select("user_id", "v")
    val snap1 = latestSnapshot(day1)
    val changes = day2.select(col("user_id"), col("v"), lit("U").as("op"),
      col("ts").as("chg_ts"), col("event_id").as("chg_id"))
    val rolled = TemporalOps.applyChanges(changes, "user_id", "chg_ts",
      "chg_id", "op")(snap1)
    assert(rolled.orderBy("user_id").collect().toSeq ===
      latestSnapshot(events).orderBy("user_id").collect().toSeq)
  }

  test("web-corpus chain: html extract/links -> link-graph prior -> temperature mix -> MMR-graded retrieval") {
    import graft.ext.{GraphOps, Similarity}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nDocs = docs.count()

    // 1. a synthetic crawl: real fixture text wrapped in HTML, each doc
    // hosted on one of 7 hosts and linking to a deterministic neighbor
    val id = col("doc_id")
    val host = concat(lit("h"), (id % 7).cast("string"), lit(".example.com"))
    // a ring (host x -> x+1 mod 7): never a self-loop, every host both
    // links and is linked, so pageRank conserves mass over all 7
    val target = concat(lit("https://h"), ((id + 1) % 7).cast("string"),
      lit(".example.com/p/"), id.cast("string"))
    val crawl = docs.select(id, host.as("host"), col("text").as("raw"),
      concat(lit("<html><head><script>track()</script></head><body><p>"),
        col("text"), lit("</p><a href=\""), target,
        lit("\">next</a></body></html>")).as("html"))

    // 2. extraction recovers the original text (modulo the whitespace
    // collapse the extractor itself declares) and exactly one link/doc
    val extracted = crawl.select(id, col("host"), col("raw"),
      TextOps.htmlExtract(col("html")).as("text"),
      TextOps.htmlLinks(col("html")).as("links"))
    assert(extracted.filter(size(col("links")) =!= 1).count() === 0)
    val mismatch = extracted.filter(col("text") =!=
      concat(trim(regexp_replace(col("raw"), "[ \t\n\r\f]+", " ")),
        lit(" next"))).count()
    assert(mismatch === 0)

    // 3. the links feed a host graph; pageRank gives the crawl prior.
    // Every host both links and is linked (the id maps are surjective
    // mod 7), so no dangling mass: ranks sum to 1
    val linkHost = TextOps.urlParts("doc_id", "href")(
      extracted.select(id, explode(col("links")).as("href")))
      .select(col("doc_id"), col("host").as("dst_host"))
    val edges = extracted.select(id, col("host")).join(linkHost, "doc_id")
      .select(col("host").as("src"), col("dst_host").as("dst"))
    val pr = GraphOps.pageRank("src", "dst")(edges).collect()
    assert(pr.length === 7)
    assert(math.abs(pr.map(_.getDouble(1)).sum - 1.0) < 1e-9)

    // 4. temperature mixing flattens the source skew deterministically;
    // every kept row carries a usable rate
    val mixed = TextOps.temperatureMix("doc_id", "source",
      budgetRows = nDocs / 2)(docs)
    assert(mixed.count() > 0 && mixed.count() < nDocs)
    assert(mixed.filter(col("sample_rate") <= 0.0 ||
      col("sample_rate") > 1.0).count() === 0)

    // 5. retrieval with a diversity pass, GRADED in-engine: MMR's
    // round 1 is pure relevance, so against the brute-force gold at
    // the same k every query's first hit ranks 1 (RR = 1.0), while
    // recall may legitimately trade away for diversity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 8)
    val gold = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 3)
    val diverse = Similarity.mmrTopK(emb, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 3, poolSize = 12, lambda = 0.5)
    val graded = Similarity.rankingMetrics(diverse, gold, k = 3).collect()
    assert(graded.length === 8)
    assert(graded.forall(r => r.getInt(4) === 1 && r.getDouble(5) === 1.0))
    assert(graded.forall(r =>
      r.getDouble(3) >= 1.0 / 3.0 && r.getDouble(3) <= 1.0))
  }

  test("crawl-frontier chain: url dedup -> domain gate -> line dedup -> epoch mix -> length batches -> shards") {
    import graft.ops.Ops
    // a synthetic crawl over the fixture: two URL spellings per page
    // (fetch + refetch with tracking params), 5 domains of varying
    // quality, boilerplate nav lines on every page
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val total = docs.count()
    val spellA = docs.select(col("doc_id"), col("text"), col("n_chars"),
      concat(lit("https://www.site"), (col("doc_id") % 5).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")).as("url"))
    val spellB = spellA.withColumn("url",
        concat(lit("HTTP"), expr("substr(url, 5)"), lit("?utm_source=x")))
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val crawled = spellA.unionByName(spellB)

    // 1. canonical-URL dedup halves the crawl back to one row per page
    val fetchedOnce = Dedup.byCanonicalUrl("url", "doc_id")(crawled)
    assert(fetchedOnce.count() === total)
    assert(fetchedOnce.agg(max("doc_id")).head.getLong(0) < 1000000L)

    // 2. domain gate on a per-doc length bar
    val reputable = TextOps.domainQualityGate("url",
      col("n_chars") >= 150, minFrac = 0.5, minDocs = 2)(fetchedOnce)
    val nRep = reputable.count()
    assert(nRep > 0 && nRep <= total)
    assert(reputable.select("registered_domain").distinct().count() <= 5)

    // 3. boilerplate line removal: plant a nav line on every page,
    // then remove it corpus-wide (first occurrences included)
    val withNav = reputable.select(col("doc_id"),
      concat(lit("HOME | ABOUT | LOGIN\n"), col("text")).as("text"))
    val clean = TextOps.dedupLines("doc_id", "text", minCount = 2)(withNav)
    assert(clean.count() === nRep)
    // every nav line goes (the fixture's planted duplicate docs make
    // their full-text lines corpus-heavy too, so >= not ==)
    assert(clean.agg(sum("n_removed")).head.getLong(0) >= nRep)
    assert(clean.filter(col("clean_text").contains("HOME | ABOUT"))
      .count() === 0)

    // 4. epoch-repeat mix up-samples the scarce best domain
    val labeled = clean.join(reputable.select("doc_id", "registered_domain"),
      "doc_id")
    val mixed = TextOps.epochRepeatMix("doc_id", "registered_domain",
      Map("site0.com" -> 2.0))(labeled)
    val n0 = labeled.filter(col("registered_domain") === "site0.com").count()
    assert(mixed.count() === nRep + n0) // exactly one extra copy each

    // 5. padding-efficient batches over the mixed corpus (replicas
    // distinguished by copy, so re-keying stays unique)
    val rekeyed = mixed.withColumn("doc_id",
      col("doc_id") * 2 + col("copy"))
    val batched = TextOps.lengthBucketBatches("doc_id", "clean_text",
      bucketTokens = 8, batchTokens = 128)(rekeyed)
    assert(batched.count() === mixed.count())
    val quota = batched.groupBy("bucket", "shard", "batch")
      .agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .filter(col("t") - col("m") >= 128).count()
    assert(quota === 0L)

    // 6. stable shard assignment for the export layout
    val sharded = batched.withColumn("export_shard",
      Ops.rendezvousShard(col("doc_id"), Seq("w0", "w1", "w2")))
    assert(sharded.select("export_shard").distinct().count() === 3)
    // end-to-end determinism: the whole chain reruns identically
    val rerun = TextOps.lengthBucketBatches("doc_id", "clean_text",
      bucketTokens = 8, batchTokens = 128)(rekeyed)
    assert(batched.exceptAll(rerun).count() === 0)
  }

  test("flagship chain composes from catalog operators") {
    // extract -> normalize -> gopher gate -> line dedup -> incremental
    // dedup -> mix -> pack, chained as the pipeline_flagship oracle row
    // chains it — the seams (schema handoffs, meta survival, stage
    // liveness) pinned against the same fixture at sf0.001
    import graft.ops.Ops
    import graft.pipeline.Pipeline
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "source", "text")
    // re-crawl the first 10 pages under new crawl ids: same content
    val raw = docs.withColumn("page_id", col("doc_id"))
      .unionByName(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
          col("source"), col("text"), col("doc_id").as("page_id")))
    val wrapped = raw.select(col("doc_id"), col("lang"), col("source"),
      concat(lit("<html><body><!-- c --><p>"), col("text"),
        lit("</p><nav>HOME | ABOUT</nav></body></html>")).as("text"))
    val cleaned = Pipeline(wrapped)
      .derive("text", TextOps.htmlExtract(col("text")))
      .derive("text", TextOps.normalizeText(col("text")))
      .result
    // extraction really ran: no tags/comments survive, markup gone
    assert(cleaned.filter(col("text").contains("<")).count() === 0)
    val passing = TextOps.gopherRules("doc_id", "text")(cleaned)
      .filter(col("passes_gopher") === 1).select("doc_id")
    val nPass = passing.count()
    assert(nPass > 0 && nPass < raw.count()) // the gate is LIVE
    val toks = split(coalesce(col("text"), lit("")), " ")
    val lined = Pipeline(cleaned).via(Ops.semiJoin(passing, Seq("doc_id")))
      .result
      .select(col("doc_id"), col("lang"), col("source"),
        array_join(transform(
          sequence(lit(0), ceil(size(toks) / lit(8.0)).cast("int") - 1),
          b => array_join(slice(toks, b * lit(8) + 1, lit(8)), " ")),
          "\n").as("text"))
    val deduped = Pipeline(lined)
      .via(TextOps.dedupLines("doc_id", "text", minCount = 2)).result
      .join(lined.select("doc_id", "lang", "source"), Seq("doc_id"))
    assert(deduped.count() === nPass) // line pass is row-preserving
    assert(deduped.agg(sum("n_removed")).head.getLong(0) > 0L) // and live
    // incremental fingerprint dedup: originals are crawl-N history
    val seen = deduped.filter(col("doc_id") < 100000)
      .select(TextOps.fingerprint(col("clean_text")).as("f")).distinct()
    val batch = deduped.filter(col("doc_id") >= 100000)
    val nBatch = batch.count()
    val fresh = batch.transform(
      Dedup.incrementalByFingerprint("clean_text", "doc_id", seen))
    // every re-crawl's cleaned text already sits in the index — all drop
    assert(nBatch > 0L && fresh.count() === 0L)
    // mix + pack run over the history survivors end to end
    val packed = Pipeline(deduped.filter(col("doc_id") < 100000))
      .via(TextOps.temperatureMix("doc_id", "source", budgetRows = 30))
      .derive("n_tokens",
        size(split(translate(col("clean_text"), "\n", " "), " "))
          .cast("long"))
      .via(TextOps.packSequences("n_tokens", budget = 256,
        shardField = "lang", orderBy = Seq("doc_id")))
      .result
    assert(packed.count() > 0L)
    assert(packed.columns.contains("bin") &&
      packed.columns.contains("sample_rate"))
    // bins respect the budget minus each row's own contribution
    val over = packed.groupBy("lang", "bin")
      .agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .filter(col("t") - col("m") >= 256).count()
    assert(over === 0L)
  }

  test("exact-SSJ crawl loop: one stored index serves the batch ingest AND the streaming gate") {
    // The recall-guaranteed rung end to end: crawl 1 seeds the
    // token-set index through a store; crawl 2 (a near-dup of history,
    // an in-crawl exact dup, a novel doc) is deduped by ONE ingest
    // call; and the STREAMING gate, pointed at the same stored index
    // AFTER the append, drops a crawl-3 near-dup of a crawl-2
    // SURVIVOR — batch and stream share one persisted state.
    import graft.ext.{Dedup, IncrementalIndex}
    import graft.streaming.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e_ssj").toString
    try {
      val store = graft.sources.ParquetStore(spark, dir)
      def toks(t: String) = t.split(' ').toSeq
      val crawl1 = Seq(
        (1L, toks("alpha beta gamma delta epsilon zeta")),
        (2L, toks("one two three four five six seven")))
        .toDF("doc_id", "toks")
      val idx = IncrementalIndex.setSimilarity(store, "tokensets",
        "doc_id", "toks", threshold = 0.5)
      idx.create(crawl1)
      val crawl2 = Seq(
        (10L, toks("alpha beta gamma delta epsilon eta")), // near-dup of 1
        (11L, toks("cat dog bird fish mouse horse")),       // novel
        (12L, toks("horse mouse fish bird dog cat")),       // exact dup of 11
        (13L, toks("totally fresh tokens here now then")))  // novel
        .toDF("doc_id", "toks")
      val kept = idx.ingest(crawl2)
      assert(kept.select("doc_id").as[Long].collect().toSet ===
        Set(11L, 13L))
      assert(idx.load().count() === 4) // 2 history + 2 survivors
      // the streaming gate over the SAME stored index now drops a
      // near-dup of crawl-2 survivor 11 and passes a novel doc
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, Seq[String])]
      val out = Streaming.streamingIncrementalSetSimilarity(
        input.toDF().toDF("doc_id", "ts", "toks"), "toks", idx.load(),
        threshold = 0.5, tsField = "ts", watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("e2essj")
        .outputMode("append").start()
      try {
        def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 09:$m%02d:00")
        input.addData(
          (20L, ts(0), toks("cat dog bird fish mouse zebra")), // near-dup of 11
          (21L, ts(1), toks("entirely new material streams in")))
        input.addData((99L, ts(30), toks("nudge")))
        q.processAllAvailable()
        val got = spark.table("e2essj").select("doc_id")
          .as[Long].collect().toSet
        assert(got === Set(21L),
          s"stream gate must drop the survivor's near-dup, got $got")
      } finally q.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }
}
