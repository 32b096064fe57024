package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.TextOps

/** The SURVEY §8 scale dossier's measurement harness: per-family
  * phases time an operator on the sf0.1 fixtures replicated ×1/×2/×4
  * (each phase picks the replication shape that is ADVERSARIAL or
  * HONEST for its operator — disjoint ids for linear claims, shared
  * content where duplication density must grow, disjoint token/item
  * universes where cross-replica collisions must NOT happen), plus
  * knob sweeps (iterations, window, reps, caps) that pin per-round /
  * per-unit flatness. Cells are medians of 3 (single runs swing ~3×
  * on this box); a linear operator shows ~2× wall per data doubling,
  * a hidden all-pairs stage ~4× — several such regressions were
  * caught and fixed by exactly these curves (see §8's measured
  * sections). Select phases with SPARK_GRAFT_SCALE_ONLY.
  * Usage: runMain graft.ScaleBench [sfDir]. */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.sessionBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional comma-separated phase subset (spans / bm25 / cc / ann /
    // inc / contain / bpe / text11 / oph / freq / ts / r12 / tri / r13 /
    // r13b / tfidf / pareto / r14 / flag / conv / r14c / r15 / r15b)
    // plus r15c / r16 / r16b / r16c / r17 / r17b / r18, for targeted re-measures
    // without paying the whole harness; absent → all phases.
    val phases = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def phase(name: String)(body: => Unit): Unit =
      if (phases.forall(_(name))) body

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val n = base.count() // also warms the scan
    def replicated(k: Int): DataFrame =
      (0 until k).map(i => base.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)

    def time(f: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median3(f: => Unit): Double =
      (1 to 3).map(_ => time(f)).sorted.apply(1)
    def noop(d: DataFrame): Unit =
      d.write.mode("overwrite").format("noop").save()
    phase("spans") {
    // warm-up at x1 so codegen/noop-sink init doesn't land on the x1 cell
    TextOps.duplicateSpans("doc_id", "text", n = 8)(replicated(1))
      .write.mode("overwrite").format("noop").save()

    val rows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint() // exclude replication cost
      val tSpans = time {
        TextOps.duplicateSpans("doc_id", "text", n = 8)(docs)
          .write.mode("overwrite").format("noop").save()
      }
      val tStrip = time {
        TextOps.stripDuplicateSpans("doc_id", "text", n = 8)(docs)
          .write.mode("overwrite").format("noop").save()
      }
      docs.unpersist()
      (k, n * k, tSpans, tStrip)
    }
    println("corpus_x,docs,duplicate_spans_sec,strip_duplicate_spans_sec")
    rows.foreach { case (k, d, a, b) => println(f"$k,$d,$a%.2f,$b%.2f") }
    }

    // Retrieval scaling: fixed query set, growing corpus — the posting
    // build is corpus-linear and the per-query window cost tracks
    // candidate counts, so the curve should be bounded by linear.
    import spark.implicits._
    phase("bm25") {
    val queries = Seq(
      (0L, Seq("spark", "stream")),
      (1L, Seq("vector", "merge", "window")),
      (2L, Seq("customer"))
    ).toDF("query_id", "terms")
    val bmRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val t = time {
        TextOps.bm25BatchTopK("doc_id", "text", queries, "query_id",
          "terms", k = 10)(docs)
          .write.mode("overwrite").format("noop").save()
      }
      docs.unpersist()
      (k, n * k, t)
    }
    println("corpus_x,docs,bm25_batch_sec")
    bmRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    }

    // Cluster-election scaling (the LSH pairs -> connected components ->
    // election family). Replication is ADVERSARIAL for CC: every replica
    // of a document is an exact near-dup of every other, so component
    // SIZES grow linearly with scale (each duplicated doc's cluster
    // gains k members) while component DIAMETER stays ~1 (replicas
    // collide in the same LSH buckets and pair completely) — the
    // "rounds = diameter stays tiny" claim is what a super-linear curve
    // here would falsify. Cells are medians of 3 (single cells swing up
    // to ~3× on this box).
    import graft.ext.Dedup
    val vecsBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val nv = vecsBase.count()
    def replicatedVecs(k: Int): DataFrame =
      (0 until k).map(i => vecsBase.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        col("embedding")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    phase("cc") {
    def electBest(docs: DataFrame): Unit =
      Dedup.clusterDedupByQuality("doc_id", "text",
        TextOps.qualityScore(col("text")), threshold = 0.2)(docs)
        .write.mode("overwrite").format("noop").save()
    def electSplit(docs: DataFrame): Unit =
      Dedup.clusterSafeSplit("doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        threshold = 0.2)(docs)
        .write.mode("overwrite").format("noop").save()
    def electSem(vecs: DataFrame): Unit =
      Dedup.semanticDedup("vec_id", "embedding", threshold = 0.4,
        planes = 6, dim = 64)(vecs)
        .write.mode("overwrite").format("noop").save()
    // warm each op once so the ×1 cells don't absorb plan/codegen init
    locally {
      val d1 = replicated(1).localCheckpoint(); val v1 = replicatedVecs(1).localCheckpoint()
      electBest(d1); electSplit(d1); electSem(v1)
      d1.unpersist(); v1.unpersist()
    }
    val ccRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val vecs = replicatedVecs(k).localCheckpoint()
      val tBest = median3(electBest(docs))
      val tSplit = median3(electSplit(docs))
      val tSem = median3(electSem(vecs))
      docs.unpersist(); vecs.unpersist()
      (k, n * k, nv * k, tBest, tSplit, tSem)
    }
    println("corpus_x,docs,vecs,cluster_dedup_best_sec,cluster_safe_split_sec,semantic_dedup_sec")
    ccRows.foreach { case (k, d, v, a, b, c) =>
      println(f"$k,$d,$v,$a%.2f,$b%.2f,$c%.2f")
    }
    }

    // ANN-ladder scaling: fixed 10-query set, growing corpus, one cell
    // per precision rung (float32 cosine / int8 codes / 64-bit sign
    // sketch + rerank). All three are corpus-linear by construction
    // (broadcast queries, no corpus shuffle); these cells pin the
    // CONSTANT factors. Caveat the docs state too: local[32] reads from
    // page cache, so the int8/sketch rungs show their compute cost
    // here, not the 4×/32× scan-IO win — that materializes when codes/
    // sketches are STORED columns on a real cluster.
    import graft.ext.Similarity
    phase("ann") {
    val annQ = vecsBase.filter(col("vec_id") < 10)
    def annFloat(vecs: DataFrame): Unit =
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        annQ, "vec_id", "embedding", k = 5)
        .write.mode("overwrite").format("noop").save()
    def annQ8(vecs: DataFrame): Unit =
      Similarity.bruteForceTopKQuantized(vecs, "vec_id", "embedding",
        annQ, "vec_id", "embedding", k = 5)
        .write.mode("overwrite").format("noop").save()
    def annHam(vecs: DataFrame): Unit =
      Similarity.hammingTopK(vecs, "vec_id", "embedding",
        annQ, "vec_id", "embedding", k = 5, rerank = 10)
        .write.mode("overwrite").format("noop").save()
    val pqCents = Similarity.standinCentroids(vecsBase, "vec_id",
      "embedding", 8)
    def annPq(vecs: DataFrame): Unit =
      Similarity.pqTopK(vecs, "vec_id", "embedding",
        annQ, "vec_id", "embedding", pqCents, "cid", "center",
        m = 8, k = 5, rerank = 10)
        .write.mode("overwrite").format("noop").save()
    // IVF-ADC from a PRECOMPUTED (item_id, cell, codes) index — the
    // production read path: per query batch, only probed cells' code
    // rows are ADC-scored (index build cost excluded, like the other
    // stored-state cells)
    def annIvfPq(vecs: DataFrame, idx: DataFrame): Unit =
      Similarity.ivfPqTopK(vecs, "vec_id", "embedding",
        annQ, "vec_id", "embedding",
        coarseCentroids = pqCents, nprobe = 2,
        pqCentroids = pqCents, m = 8, k = 5, rerank = 10,
        index = Some(idx))
        .write.mode("overwrite").format("noop").save()
    def ivfPqIdx(vecs: DataFrame): DataFrame =
      Similarity.ivfPqIndexRows(vecs, "vec_id", "embedding",
        pqCents, pqCents, m = 8).localCheckpoint()
    locally {
      val v1 = replicatedVecs(1).localCheckpoint()
      val i1 = ivfPqIdx(v1)
      annFloat(v1); annQ8(v1); annHam(v1); annPq(v1); annIvfPq(v1, i1)
      v1.unpersist(); i1.unpersist()
    }
    val annRows = for (k <- Seq(1, 2, 4)) yield {
      val vecs = replicatedVecs(k).localCheckpoint()
      val idx = ivfPqIdx(vecs)
      val tF = median3(annFloat(vecs))
      val tQ = median3(annQ8(vecs))
      val tH = median3(annHam(vecs))
      val tP = median3(annPq(vecs))
      val tI = median3(annIvfPq(vecs, idx))
      vecs.unpersist(); idx.unpersist()
      (k, nv * k, tF, tQ, tH, tP, tI)
    }
    println("corpus_x,vecs,ann_float_sec,ann_int8_sec,ann_hamming_sec,ann_pq_sec,ann_ivf_pq_sec")
    annRows.foreach { case (k, v, a, b, c, p, i) =>
      println(f"$k,$v,$a%.2f,$b%.2f,$c%.2f,$p%.2f,$i%.2f")
    }
    }

    // Incremental near-dup scaling: FIXED batch, GROWING index — the
    // dimension that matters for a recurring crawl, where the
    // accumulated history dwarfs every batch. The index is precomputed
    // state ((id, sig) rows, localCheckpointed — signature cost of
    // history is NOT the batch's bill), replicated ×1/×2/×4 with
    // replica ids in disjoint ranges BELOW the batch's ids. Replication
    // is adversarial the same way as the CC phase: every replica of a
    // doc lands in the same bands as the batch's near-dups, so
    // candidate volume grows with index scale instead of staying
    // constant. The pinned claim: one signature-only scan of the index
    // per batch, banded-bucket joins with the per-side cap — the curve
    // must be bounded by linear in index size; a super-linear curve
    // would falsify the capped-bucket design.
    phase("inc") {
    val batchDocs = base.select(
      (col("doc_id") + lit(100_000_000L)).as("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    def indexRows(k: Int): DataFrame =
      Dedup.minhashIndexRows("doc_id", "text")(replicated(k))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    def incDedup(index: DataFrame): Unit =
      Dedup.incrementalNearDup("doc_id", "text", index, threshold = 0.7)(
        batchDocs)
        .write.mode("overwrite").format("noop").save()
    locally { val i1 = indexRows(1); incDedup(i1); i1.unpersist() }
    val incRows = for (k <- Seq(1, 2, 4)) yield {
      val idx = indexRows(k)
      val t = median3(incDedup(idx))
      idx.unpersist()
      (k, n * k, n, t)
    }
    println("index_x,index_rows,batch_rows,incremental_near_dup_sec")
    incRows.foreach { case (k, i, b, t) => println(f"$k,$i,$b,$t%.2f") }
    }

    // Containment-pair scaling: replication is MAXIMALLY adversarial
    // here — every replica shares EVERY gram with its source doc, so
    // per-gram doc frequency multiplies by k and the pair space would
    // grow k² per gram if uncapped. The maxDf cap is the design under
    // test: grams pushed past the cap stop generating pairs, so the
    // curve must stay bounded by the gram-projection scan (linear),
    // not the pair explosion (quadratic). Exact and sampled modes
    // share the cells (the sampled one additionally pins that the
    // quarter-subspace stays ~flat as the corpus grows).
    phase("contain") {
    def contain(docs: DataFrame, frac: Double): Unit =
      Dedup.containmentPairs("doc_id", "text", n = 8, threshold = 0.5,
        gramFraction = frac)(docs)
        .write.mode("overwrite").format("noop").save()
    locally {
      val d1 = replicated(1).localCheckpoint()
      contain(d1, 1.0); contain(d1, 0.25)
      d1.unpersist()
    }
    val cRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val tE = median3(contain(docs, 1.0))
      val tS = median3(contain(docs, 0.25))
      docs.unpersist()
      (k, n * k, tE, tS)
    }
    println("corpus_x,docs,containment_pairs_sec,containment_sampled_sec")
    cRows.foreach { case (k, d, a, b) => println(f"$k,$d,$a%.2f,$b%.2f") }
    }

    // BPE at production vocabulary scale: the kernels claim per-row
    // cost O(applied merges × word length) with O(1) rank lookups
    // INDEPENDENT of vocabulary size (hash-map ranks, not a scan of
    // the merge table). Adversarial pin: the demo table (10 merges
    // that DO fire on this corpus) vs the same 10 ranks buried under
    // ~50k junk merges over CJK single-codepoint operands that can
    // never fire on it — identical counts by construction, and the
    // per-row cost must stay flat (the HOF form, one pass PER RANK,
    // would be ~5000× slower here; the kernel's only vocab-size costs
    // are the one-time driver-side validate/rank-map build and the
    // merge table riding the task binary — ~50k × ~8 B ≈ 0.4 MB,
    // broadcast once per stage by TorrentBroadcast, NOT per task; at
    // real vocabularies keep the table a shared constant, not a
    // per-query literal, so plan construction pays it once).
    phase("bpe") {
    val junk: Seq[(String, String)] = (0 until 49_990).map { i =>
      (String.valueOf((0x4E00 + i / 256).toChar),
        String.valueOf((0x3400 + i % 256).toChar))
    }
    val bigMerges = TextOps.demoBpeMerges ++ junk
    def bpeCount(docs: DataFrame, merges: Seq[(String, String)]): Unit =
      docs.select(TextOps.bpeTokenCount(col("text"), merges).as("n"))
        .write.mode("overwrite").format("noop").save()
    // driver-side table cost: constructor validation (rank-consistency
    // hashset pass over all 50k merges; the executor-side rank map is
    // the same O(n) build, once per expression instance, lazily)
    val tBuild = time { TextOps.bpeTokenCount(lit("warm"), bigMerges); () }
    locally {
      val d1 = replicated(1).localCheckpoint()
      bpeCount(d1, TextOps.demoBpeMerges); bpeCount(d1, bigMerges)
      d1.unpersist()
    }
    // The vocab-independence claim is about PER-ROW cost, so it is the
    // SLOPE across a growing corpus that must match between the two
    // tables — the intercept difference is the fixed per-job table
    // overhead (plan-literal serialization + one rank-map build per
    // expression instance, amortized over the whole corpus at scale).
    val bpeRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val tD = median3(bpeCount(docs, TextOps.demoBpeMerges))
      val tB = median3(bpeCount(docs, bigMerges))
      docs.unpersist()
      (k, n * k, tD, tB)
    }
    println(f"rank_build_50k_sec,$tBuild%.4f")
    println("corpus_x,docs,bpe_10_merges_sec,bpe_50k_merges_sec")
    bpeRows.foreach { case (k, d, a, b) => println(f"$k,$d,$a%.2f,$b%.2f") }
    }

    // Round-11 text analytics: gopherRepetition is per-document (9 gram
    // widths through one explode + doc-local windows — embarrassingly
    // parallel, must be linear); bigramLmQuality joins the position
    // stream against corpus-wide bigram stats (replication multiplies
    // both stream AND counts — the join is the thing under test);
    // targetAffinity scores a growing raw corpus against a FIXED target.
    phase("text11") {
    def gr(docs: DataFrame): Unit =
      TextOps.gopherRepetition("doc_id", "text")(docs)
        .write.mode("overwrite").format("noop").save()
    def lm(docs: DataFrame): Unit =
      TextOps.bigramLmQuality("doc_id", "text")(docs)
        .write.mode("overwrite").format("noop").save()
    val target = base.limit(500).localCheckpoint()
    def aff(docs: DataFrame): Unit =
      TextOps.targetAffinity("doc_id", "text", n = 2, target, "text")(docs)
        .write.mode("overwrite").format("noop").save()
    locally {
      val d1 = replicated(1).localCheckpoint()
      gr(d1); lm(d1); aff(d1)
      d1.unpersist()
    }
    val tRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val a = median3(gr(docs)); val b = median3(lm(docs))
      val c = median3(aff(docs))
      docs.unpersist()
      (k, n * k, a, b, c)
    }
    println("corpus_x,docs,gopher_repetition_sec,bigram_lm_sec,dsir_affinity_sec")
    tRows.foreach { case (k, d, a, b, c) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f") }
    }

    // Signature-kernel cost: classic MinHash digests ⌈k/4⌉ md5s per
    // shingle, OPH exactly one — the gap should WIDEN with k (and both
    // curves stay corpus-linear). The cell that justifies OPH's
    // existence: at k=128 the classic kernel pays 32 digests/shingle.
    phase("oph") {
    def sigPass(docs: DataFrame, k: Int, oph: Boolean): Unit =
      docs.select((if (oph) Dedup.minhashSignatureOph(col("text"), k, 3)
                   else Dedup.minhashSignature(col("text"), k, 3)).as("s"))
        .write.mode("overwrite").format("noop").save()
    locally {
      val d1 = replicated(1).localCheckpoint()
      sigPass(d1, 16, oph = false); sigPass(d1, 16, oph = true)
      d1.unpersist()
    }
    val ophRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val c16 = median3(sigPass(docs, 16, oph = false))
      val o16 = median3(sigPass(docs, 16, oph = true))
      val c128 = median3(sigPass(docs, 128, oph = false))
      val o128 = median3(sigPass(docs, 128, oph = true))
      docs.unpersist()
      (k, n * k, c16, o16, c128, o128)
    }
    println("corpus_x,docs,classic_k16_sec,oph_k16_sec,classic_k128_sec,oph_k128_sec")
    ophRows.foreach { case (k, d, a, b, c, e) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f,$e%.2f") }
    }

    // Heavy hitters: the two-pass Misra–Gries form vs the naive
    // GROUP BY ... HAVING plan on the same growing token stream.
    // Replication is ADVERSARIAL for the candidate pass: every replica
    // repeats every token, so the per-partition summaries stay saturated
    // while the stream doubles — both curves must stay corpus-linear,
    // and the two-pass form's advantage (shuffling candidates instead of
    // the vocabulary) only widens with real vocabulary sizes; at this
    // fixture scale parity is the pass mark.
    phase("freq") {
    import graft.ext.Frequency
    def twoPass(docs: DataFrame): Unit =
      Frequency.heavyHitterTerms("text", 1e-3)(docs)
        .write.mode("overwrite").format("noop").save()
    def naive(docs: DataFrame): Unit = {
      val t = docs.select(
        explode(org.apache.spark.sql.functions.split(col("text"), " "))
          .as("token"))
      val tot = t.count().toDouble
      t.groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt").cast("double") > lit(1e-3) * lit(tot))
        .write.mode("overwrite").format("noop").save()
    }
    locally {
      val d1 = replicated(1).localCheckpoint()
      twoPass(d1); naive(d1)
      d1.unpersist()
    }
    val fRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val a = median3(twoPass(docs)); val b = median3(naive(docs))
      docs.unpersist()
      (k, n * k, a, b)
    }
    println("corpus_x,docs,two_pass_sec,naive_group_by_sec")
    fRows.foreach { case (k, d, a, b) => println(f"$k,$d,$a%.2f,$b%.2f") }
    }

    // Time-series family: events replicated with SHIFTED user ids, so
    // per-key history length stays constant while the key count grows —
    // the honest scaling axis for per-key-sort operators (resample's
    // spine, EWMA's fold array, TWA's lead window are all bounded by
    // per-key history, which replication must NOT inflate).
    phase("ts") {
    import graft.ops.{TemporalOps, WindowOps}
    val evBase = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), round(col("value") * 1e2, 0).cast("long").as("v"))
    val ne = evBase.count()
    def repEvents(k: Int): DataFrame =
      (0 until k).map(i => evBase.select(
        (col("user_id") + lit(i.toLong * 10_000_000L)).as("user_id"),
        col("ts"), (col("event_id") + lit(i.toLong * 100_000_000L))
          .as("event_id"), col("v")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def rs(ev: DataFrame): Unit =
      TemporalOps.resample("user_id", "ts", "v", 21600L, "event_id")(ev)
        .write.mode("overwrite").format("noop").save()
    def ew(ev: DataFrame): Unit =
      WindowOps.ewmaSmooth("user_id", "ts", "v", 0.3, "event_id")(ev)
        .write.mode("overwrite").format("noop").save()
    def tw(ev: DataFrame): Unit =
      WindowOps.timeWeightedAvg("user_id", "ts", "v", "event_id")(ev)
        .write.mode("overwrite").format("noop").save()
    locally {
      val e1 = repEvents(1).localCheckpoint()
      rs(e1); ew(e1); tw(e1)
      e1.unpersist()
    }
    val tsRows = for (k <- Seq(1, 2, 4)) yield {
      val ev = repEvents(k).localCheckpoint()
      val a = median3(rs(ev)); val b = median3(ew(ev)); val c = median3(tw(ev))
      ev.unpersist()
      (k, ne * k, a, b, c)
    }
    println("corpus_x,events,resample_sec,ewma_sec,twa_sec")
    tsRows.foreach { case (k, d, a, b, c) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f") }

    // Interval-join scaling on the same shifted replication: per-key
    // interval density is constant, so pair volume grows LINEARLY with
    // keys — the curve that must stay linear for the bucket-equi-join
    // claim to hold (an accidental cross product would go quadratic).
    def ivSide(ev: DataFrame, t: String): DataFrame =
      ev.filter(col("event_id") % 3 === (if (t == "a") 0 else 1))
        .select(col("event_id"), col("user_id"), col("ts").as("s"),
          org.apache.spark.sql.functions.timestamp_micros(
            unix_micros(col("ts")) +
              (col("event_id") % 14400 + 1800) * 1000000L).as("e"))
    def ivj(ev: DataFrame): Unit =
      TemporalOps.intervalJoin(ivSide(ev, "b"), "user_id", "s", "e",
        "s", "e", widthSeconds = 7200L)(ivSide(ev, "a"))
        .write.mode("overwrite").format("noop").save()
    locally { val e1 = repEvents(1).localCheckpoint(); ivj(e1); e1.unpersist() }
    val ivRows = for (k <- Seq(1, 2, 4)) yield {
      val ev = repEvents(k).localCheckpoint()
      val a = median3(ivj(ev))
      ev.unpersist()
      (k, ne * k, a)
    }
    println("corpus_x,events,interval_join_sec")
    ivRows.foreach { case (k, d, a) => println(f"$k,$d,$a%.2f") }
    }

    // Round-12 cells. (a) Linear classifier at production vocabulary
    // scale — the vocab-independence claim is the SLOPE across a
    // growing corpus matching between a 14-entry demo model and a
    // ~50k-entry synthetic one (the BPE-cell methodology: per-window
    // cost is one hash probe either way). (b) PageRank on an edge list
    // replicated into disjoint components — k iterations of
    // join+hash-agg must scale linearly with edges.
    phase("r12") {
    val bigWeights: Seq[(String, Long)] = TextOps.demoQualityWeights ++
      (0 until 49_986).map(i => (s"w$i", (i % 17 - 8).toLong))
    def score(docs: DataFrame, w: Seq[(String, Long)]): Unit =
      TextOps.linearTextScore("doc_id", "text", w, 0.25, 0.3)(docs)
        .write.mode("overwrite").format("noop").save()
    locally {
      val d1 = replicated(1).localCheckpoint()
      score(d1, TextOps.demoQualityWeights); score(d1, bigWeights)
      d1.unpersist()
    }
    val clsRows = for (k <- Seq(1, 2, 4)) yield {
      val docs = replicated(k).localCheckpoint()
      val tD = median3(score(docs, TextOps.demoQualityWeights))
      val tB = median3(score(docs, bigWeights))
      docs.unpersist()
      (k, n * k, tD, tB)
    }
    println("corpus_x,docs,linear_14w_sec,linear_50k_sec")
    clsRows.foreach { case (k, d, a, b) => println(f"$k,$d,$a%.2f,$b%.2f") }

    import graft.ext.GraphOps
    val evG = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"))
    val neg = evG.count()
    def repEdges(k: Int): DataFrame =
      (0 until k).map(i => evG.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 7 + col("event_id")) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def pr(e: DataFrame): Unit =
      GraphOps.pageRank("src", "dst", iterations = 3)(e)
        .write.mode("overwrite").format("noop").save()
    locally { val e1 = repEdges(1).localCheckpoint(); pr(e1); e1.unpersist() }
    val prRows = for (k <- Seq(1, 2, 4)) yield {
      val e = repEdges(k).localCheckpoint()
      val t = median3(pr(e))
      e.unpersist()
      (k, neg * k, t)
    }
    println("corpus_x,events,pagerank3_sec")
    prRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }

    // Cross-table fuzzy join under catalog growth — the adversarial
    // case is built in: TPC-H customer names share the long
    // "Customer#0000…" prefix, so del-1 variants collide heavily and
    // the 64-cap is what keeps candidate volume corpus-linear. Both
    // sides replicate ×1/×2/×4 (ids shifted into disjoint ranges).
    import graft.ext.Dedup
    val custBase = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val nc = custBase.count()
    def repCust(k: Int): DataFrame =
      (0 until k).map(i => custBase.select(
        (col("c_custkey") + lit(i.toLong * 10_000_000L)).as("c_custkey"),
        concat(col("c_name"), lit(i.toString)).as("c_name")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def fj(master: DataFrame): Unit = {
      val dirty = master.select(
        (col("c_custkey") + 1000000L).as("x_id"),
        call_function("substring", col("c_name"), lit(1),
          length(col("c_name")) - 1).as("x_name"))
      Dedup.fuzzyJoin(dirty, "c_custkey", "c_name", "x_id", "x_name",
        minJw = 0.9)(master)
        .write.mode("overwrite").format("noop").save()
    }
    locally { val m1 = repCust(1).localCheckpoint(); fj(m1); m1.unpersist() }
    val fjRows = for (k <- Seq(1, 2, 4)) yield {
      val m = repCust(k).localCheckpoint()
      val t = median3(fj(m))
      m.unpersist()
      (k, nc * k, t)
    }
    println("corpus_x,customers,fuzzy_join_sec")
    fjRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }

    // The PRODUCTION curve: a FIXED dirty batch probing a GROWING
    // master catalog (the r12 cell above grows both sides and measures
    // collision load; this one isolates catalog growth — the nightly
    // "match today's batch against an ever-bigger master" question).
    // Cost must stay ~linear in the master: blocking keys shuffle both
    // sides, the fixed side contributes a constant, candidate pairs
    // are bounded per bucket by the 64-cap.
    val dirtyFixed = custBase.select(
      (col("c_custkey") + 1000000L).as("x_id"),
      call_function("substring", col("c_name"), lit(1),
        length(col("c_name")) - 1).as("x_name"))
      .localCheckpoint()
    def fjFixed(master: DataFrame): Unit =
      Dedup.fuzzyJoin(dirtyFixed, "c_custkey", "c_name", "x_id", "x_name",
        minJw = 0.9)(master)
        .write.mode("overwrite").format("noop").save()
    locally { val m1 = repCust(1).localCheckpoint(); fjFixed(m1); m1.unpersist() }
    val fjGrowRows = for (k <- Seq(1, 2, 4)) yield {
      val m = repCust(k).localCheckpoint()
      val t = median3(fjFixed(m))
      m.unpersist()
      (k, nc * k, t)
    }
    println("master_x,master_rows,fuzzy_join_fixed_probe_sec")
    fjGrowRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    }

    phase("tri") {
    // Triangle counting under edge growth + the hub stress that
    // falsifies naive wedge enumeration. Curve 1: disjoint ×1/×2/×4
    // replicas of a 2000-node graph (m grows, density constant) —
    // wall must be ~linear. Curve 2: the ×1 graph plus a STAR HUB
    // linked to every node. Naively, wedges at a deg-2000 apex are
    // C(2000,2) ≈ 2M; degree-ordered orientation points every star
    // edge INTO the hub (it is the (deg, id)-maximum), so the hub
    // apexes ZERO wedges and the added cost is one extra out-edge per
    // low node — the O(√m) fan-out claim, measured.
    import graft.ext.GraphOps
    val evT = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"))
    val net = evT.count()
    def triEdges(k: Int): DataFrame =
      (0 until k).map(i => evT.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 7 + col("event_id")) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def tri(e: DataFrame): Unit =
      GraphOps.triangleStats("src", "dst")(e)
        .write.mode("overwrite").format("noop").save()
    locally { val e1 = triEdges(1).localCheckpoint(); tri(e1); e1.unpersist() }
    val triRows = for (k <- Seq(1, 2, 4)) yield {
      val e = triEdges(k).localCheckpoint()
      val t = median3(tri(e))
      e.unpersist()
      (k, net * k, t)
    }
    println("corpus_x,events,triangles_sec")
    triRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    val hubbed = triEdges(1).unionByName(
      spark.range(2000).select(lit(9_999_999L).as("src"),
        col("id").as("dst"))).localCheckpoint()
    locally { tri(hubbed) }
    val tHub = median3(tri(hubbed))
    hubbed.unpersist()
    println(f"hub_stress: x1_plus_deg2000_hub,${net + 2000},$tHub%.2f")
    }

    phase("r13") {
    // Round-13 ops under growth. htmlExtract / wavStats are pure
    // projections (must be ~linear, i.e. flat at this fixture size
    // where job overhead dominates); temperatureMix adds one keys-only
    // agg + a broadcast rate join (linear); MMR's honest axis is NOT
    // corpus size (the pool bounds it) but POOL SIZE M — cost is
    // O(k·M²·dim) per query, so doubling M must roughly quadruple the
    // kernel work, measured at fixed queries/corpus.
    import graft.ext.{BinaryOps, Similarity, TextOps}
    val docsR = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val nd = docsR.count()
    def repDocs(k: Int): DataFrame =
      (0 until k).map(i => docsR.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("text"), col("source")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def htmlJob(d: DataFrame): Unit = d.select(col("doc_id"),
      TextOps.htmlExtract(concat(
        lit("<html><head><style>p{}</style><script>var x;</script>"),
        lit("</head><body><!-- c --><p>"), col("text"),
        lit("</p>&amp; &lt;x&gt;</body></html>"))).as("t"))
      .write.mode("overwrite").format("noop").save()
    def wavJob(d: DataFrame): Unit = {
      val n = (col("doc_id") % 50 + 5).cast("int")
      val samples = transform(sequence(lit(0), n - 1), j =>
        ((col("doc_id") * 31 + j.cast("long") * 17) % 4096 - 2048).cast("int"))
      d.select(col("doc_id"), BinaryOps.wavPcmStats(
        BinaryOps.syntheticWavPcm(lit(1), lit(8000), samples)).as("w"))
        .write.mode("overwrite").format("noop").save()
    }
    def mixJob(d: DataFrame): Unit =
      TextOps.temperatureMix("doc_id", "source", budgetRows = 200)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repDocs(1).localCheckpoint()
      htmlJob(d1); wavJob(d1); mixJob(d1); d1.unpersist() }
    val r13Rows = for (k <- Seq(1, 2, 4)) yield {
      val d = repDocs(k).localCheckpoint()
      val tH = median3(htmlJob(d))
      val tW = median3(wavJob(d))
      val tM = median3(mixJob(d))
      d.unpersist()
      (k, nd * k, tH, tW, tM)
    }
    println("corpus_x,docs,html_extract_sec,wav_stats_sec,temperature_mix_sec")
    r13Rows.foreach { case (k, d, a, b, c) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f") }
    // the objective builders and container listings are pure per-row
    // projections too — same flat-or-linear requirement
    def spanJob(d: DataFrame): Unit =
      TextOps.spanCorrupt("doc_id", "text")(d)
        .write.mode("overwrite").format("noop").save()
    def fimJob(d: DataFrame): Unit =
      TextOps.fimTransform("doc_id", "text")(d)
        .write.mode("overwrite").format("noop").save()
    def warcJob(d: DataFrame): Unit =
      d.select(col("doc_id"), BinaryOps.warcRecords(
        BinaryOps.syntheticWarc((col("doc_id") % 3 + 1).cast("int"))))
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repDocs(1).localCheckpoint()
      spanJob(d1); fimJob(d1); warcJob(d1); d1.unpersist() }
    val objRows = for (k <- Seq(1, 2, 4)) yield {
      val d = repDocs(k).localCheckpoint()
      val tS = median3(spanJob(d))
      val tF = median3(fimJob(d))
      val tW = median3(warcJob(d))
      d.unpersist()
      (k, nd * k, tS, tF, tW)
    }
    println("corpus_x,docs,span_corrupt_sec,fim_transform_sec,warc_records_sec")
    objRows.foreach { case (k, d, a, b, c) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f") }
    // MMR selection-size curve at a fixed large pool (M = 1024, 10
    // queries): the kernel's running-maxSim form is O(k·M·dim) per
    // query, so the curve must stay FLAT while k grows 16× — this cell
    // is the regression tripwire for the incremental-update invariant
    // (the naive re-fold-selected-per-round form it replaced measured
    // 0.47 / 1.87 / 18.57 s on this same grid: quadratic, 50× at the
    // top cell; results bit-identical — float max is order-free)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val qs = emb.filter(col("vec_id") < 10).localCheckpoint()
    def mmrJob(k: Int): Unit =
      Similarity.mmrTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = k, poolSize = 1024, lambda = 0.7)
        .write.mode("overwrite").format("noop").save()
    locally { mmrJob(8) }
    val mmrRows = for (k <- Seq(8, 32, 128)) yield (k, median3(mmrJob(k)))
    println("select_k,mmr_topk_pool1024_sec")
    mmrRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    emb.unpersist(); qs.unpersist()
    }

    phase("r13b") {
    // Second-wave round-13 ops under ×1/×2/×4 replication. The
    // replication is ADVERSARIAL for line_dedup the way the CC phase
    // is for cluster dedup: every replica multiplies corpus line
    // frequencies, so at ×2+ EVERY line is heavy and the removal join
    // carries the full exploded stream — worst-case join load, must
    // stay ~linear (agg + equi-join + rebuild, no pairwise stage).
    // epoch_mix is a pure projection+explode (flat-to-linear);
    // length_batches pays ONE window shuffle (linear); url_dedup is a
    // regexp-chain projection + one hash-agg (linear); the CMS state
    // build is one hash-agg to a constant-size state (linear scan,
    // |groups|-bounded output).
    import graft.ext.{Dedup, TextOps}
    import graft.ops.Ops
    val docsR = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val nd = docsR.count()
    def repDocs(k: Int): DataFrame =
      (0 until k).map(i => docsR.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("text"), col("source")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def lineJob(d: DataFrame): Unit = {
      val toks = split(coalesce(col("text"), lit("")), " ")
      val lined = d.select(col("doc_id"), array_join(transform(
        sequence(lit(0), ceil(size(toks) / lit(8.0)).cast("int") - 1),
        b => array_join(slice(toks, b * lit(8) + 1, lit(8)), " ")),
        "\n").as("text"))
      TextOps.dedupLines("doc_id", "text", minCount = 2)(lined)
        .write.mode("overwrite").format("noop").save()
    }
    def epochJob(d: DataFrame): Unit =
      TextOps.epochRepeatMix("doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.0))(d)
        .write.mode("overwrite").format("noop").save()
    def batchJob(d: DataFrame): Unit =
      TextOps.lengthBucketBatches("doc_id", "text",
        bucketTokens = 8, batchTokens = 200, shards = 4)(d)
        .write.mode("overwrite").format("noop").save()
    def urlJob(d: DataFrame): Unit = {
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP://").otherwise("http://"),
        lit("example"), (id % 997).cast("string"), lit(".com"),
        when(id % 5 === 0, ":80").otherwise(""),
        lit("/p/"), (id % 40).cast("string"),
        when(id % 3 === 0, "?utm_source=feed").otherwise(""))
      Dedup.byCanonicalUrl("url", "doc_id")(
        d.select(id, url.as("url")))
        .write.mode("overwrite").format("noop").save()
    }
    def cmsJob(d: DataFrame): Unit =
      Ops.aggregateStateCms(Seq("source"), Seq("text"))(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repDocs(1).localCheckpoint()
      lineJob(d1); epochJob(d1); batchJob(d1); urlJob(d1); cmsJob(d1)
      d1.unpersist() }
    val rows = for (k <- Seq(1, 2, 4)) yield {
      val d = repDocs(k).localCheckpoint()
      val tL = median3(lineJob(d))
      val tE = median3(epochJob(d))
      val tB = median3(batchJob(d))
      val tU = median3(urlJob(d))
      val tC = median3(cmsJob(d))
      d.unpersist()
      (k, nd * k, tL, tE, tB, tU, tC)
    }
    println("corpus_x,docs,line_dedup_sec,epoch_mix_sec," +
      "length_batches_sec,url_dedup_sec,cms_state_sec")
    rows.foreach { case (k, d, a, b, c, u, e) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f,$u%.2f,$e%.2f") }
    // third-wave cells: anchor extraction + term agg (projection +
    // explode + one hash-agg), domain gate (count agg + equi-join
    // back), the one-scan verification suite, and the zero-shuffle
    // rendezvous projection — all must stay flat-to-linear
    def anchorJob(d: DataFrame): Unit = {
      val id = col("doc_id")
      val toks = split(coalesce(col("text"), lit("")), " ")
      val html = concat(
        lit("<a href=\"/t/"), (id % 20).cast("string"), lit("\">"),
        array_join(slice(toks, 1, 2), " "), lit("</a>"))
      TextOps.anchorTermCounts("html")(
        d.select(id, html.as("html")))
        .write.mode("overwrite").format("noop").save()
    }
    def gateJob(d: DataFrame): Unit = {
      val id = col("doc_id")
      val url = concat(lit("https://www.ex"), (id % 97).cast("string"),
        lit(".com/p/"), id.cast("string"))
      TextOps.domainQualityGate("url",
        length(col("text")) >= 150, minFrac = 0.5, minDocs = 2)(
        d.select(id, col("text"), url.as("url")))
        .write.mode("overwrite").format("noop").save()
    }
    def suiteJob(d: DataFrame): Unit =
      graft.probes.Probes.verificationSuite(
        rowChecks = Seq(
          ("nonempty", length(col("text")) > 0, 1.0),
          ("src_known", col("source").startsWith("src"), 1.0)),
        distinctChecks = Seq(("doc_unique", Seq("doc_id"), 1.0)))(d)
        .write.mode("overwrite").format("noop").save()
    def rvJob(d: DataFrame): Unit =
      d.select(col("doc_id"), Ops.rendezvousShard(col("doc_id"),
        (0 until 32).map(i => s"w$i")).as("shard"))
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repDocs(1).localCheckpoint()
      anchorJob(d1); gateJob(d1); suiteJob(d1); rvJob(d1); d1.unpersist() }
    val rows3 = for (k <- Seq(1, 2, 4)) yield {
      val d = repDocs(k).localCheckpoint()
      val tA = median3(anchorJob(d))
      val tG = median3(gateJob(d))
      val tS = median3(suiteJob(d))
      val tR = median3(rvJob(d))
      d.unpersist()
      (k, nd * k, tA, tG, tS, tR)
    }
    println("corpus_x,docs,anchor_terms_sec,domain_gate_sec," +
      "quality_suite_sec,rendezvous32_sec")
    rows3.foreach { case (k, d, a, b, c, r) =>
      println(f"$k,$d,$a%.2f,$b%.2f,$c%.2f,$r%.2f") }
    }
    // ---- tfidf cosine pairs: the df-cap contract under corpus growth ----
    // Replication multiplies every term's df by k exactly. Two columns
    // tell the story: with the cap SCALED to 64·k the retained term set
    // is invariant, so posting lists grow ×k and the pair-term join
    // ×k² — the uncapped sparse product's true cost curve; with the cap
    // FIXED at 64 the crossing terms leave the space and the work curve
    // flattens — the bound `≤ maxDf · corpus-tokens` made visible. Pair
    // counts print alongside so the pruning is measured, not inferred.
    phase("tfidf") {
    val docsBase = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .filter(col("doc_id") < 500) // the scale where rare terms exist
    val ndocs = docsBase.count()
    def repD(k: Int): DataFrame =
      (0 until k).map(i => docsBase.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def tfidfJob(d: DataFrame, cap: Int): Unit =
      TextOps.tfidfCosinePairs("doc_id", "text", threshold = 0.3,
        maxDf = cap)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repD(1).localCheckpoint()
      tfidfJob(d1, 64); d1.unpersist() }
    val tfRows = for (k <- Seq(1, 2, 4)) yield {
      val d = repD(k).localCheckpoint()
      val tFixed = median3(tfidfJob(d, 64))
      val tScaled = median3(tfidfJob(d, 64 * k))
      val pFixed = TextOps.tfidfCosinePairs("doc_id", "text",
        threshold = 0.3, maxDf = 64)(d).count()
      val pScaled = TextOps.tfidfCosinePairs("doc_id", "text",
        threshold = 0.3, maxDf = 64 * k)(d).count()
      d.unpersist()
      (k, ndocs * k, pFixed, tFixed, pScaled, tScaled)
    }
    println("corpus_x,docs,pairs_cap64,tfidf_cap64_sec," +
      "pairs_cap64k,tfidf_cap64k_sec")
    tfRows.foreach { case (k, d, pf, tf, ps, ts) =>
      println(f"$k,$d,$pf,$tf%.2f,$ps,$ts%.2f") }
    }
    // ---- pareto front: the distributive-skyline scale claim -------------
    // Replication duplicates every point; duplicates never dominate each
    // other, so the TRUE front grows ×k while the dominated mass grows
    // ×k too — the two-stage plan's cost is the per-bucket hash-agg +
    // windows, and the curve should track the corpus linearly with no
    // quadratic term (stage 2 is output-bounded). Front sizes print
    // alongside so output growth is visible.
    phase("pareto") {
    val docsBase = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("q"),
        (-col("n_chars")).as("negc"))
    val ndocs = docsBase.count()
    def repP(k: Int): DataFrame =
      (0 until k).map(i => docsBase.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("q"), col("negc")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def paretoJob(d: DataFrame): Unit =
      graft.ops.Ops.paretoFront("q", "negc")(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repP(1).localCheckpoint()
      paretoJob(d1); d1.unpersist() }
    val pRows = for (k <- Seq(1, 2, 4)) yield {
      val d = repP(k).localCheckpoint()
      val t = median3(paretoJob(d))
      val front = graft.ops.Ops.paretoFront("q", "negc")(d).count()
      d.unpersist()
      (k, ndocs * k, front, t)
    }
    println("corpus_x,docs,front_rows,pareto_front_sec")
    pRows.foreach { case (k, d, f, t) => println(f"$k,$d,$f,$t%.2f") }
    }

    phase("r14") {
    // Round-14 heavyweights. (1) lshRecallEval: the eval's exact-truth
    // side is quadratic BY DESIGN in its input — the documented
    // contract is that you run it on a bounded SAMPLE, so the curve
    // that matters is eval time vs CORPUS size at a fixed sample:
    // must stay FLAT (the corpus never enters the job). The second
    // grid doubles the SAMPLE at a fixed corpus and prints the
    // truth-pair count alongside — the quadratic bound made visible
    // and priced, not hidden. (2) lateInteractionTopK: broadcast-query
    // MaxSim scan — linear in the corpus at fixed queries, linear in
    // the query count at fixed corpus (each query adds one broadcast
    // column of work per corpus row). (3) paretoFrontNd: duplicates
    // never dominate, so replication grows front and mass together —
    // the SFS-fold skyline must track the corpus linearly like the
    // 2-D windows cell above it.
    import graft.ext.{Dedup, Similarity, TextOps}
    val docsAll = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val ndA = docsAll.count()
    def repA(k: Int): DataFrame =
      (0 until k).map(i => docsAll.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def evalJob(d: DataFrame, sample: Int): Unit =
      Dedup.lshRecallEval("doc_id", "text", threshold = 0.2,
        configs = Seq((8, 2), (8, 4), (16, 8)))(
        d.filter(col("doc_id") < sample))
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = repA(1).localCheckpoint()
      evalJob(d1, 400); d1.unpersist() }
    val evRows = for (k <- Seq(1, 2, 4)) yield {
      val d = repA(k).localCheckpoint()
      val t = median3(evalJob(d, 400))
      d.unpersist()
      (k, ndA * k, t)
    }
    println("corpus_x,docs,dedup_eval_sample400_sec")
    evRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    // sample-growth grid at fixed corpus: truth pairs ~quadruple per
    // doubling (the honest quadratic), wall bounded by the hot-shingle
    // cap inside the truth join
    val d1 = repA(1).localCheckpoint()
    val evSampleRows = for (s <- Seq(200, 400, 800)) yield {
      val t = median3(evalJob(d1, s))
      val pairs = Dedup.lshRecallEval("doc_id", "text", threshold = 0.2,
        configs = Seq((8, 4)))(d1.filter(col("doc_id") < s))
        .agg(coalesce(max("truth_pairs"), lit(0L))).head.getLong(0)
      (s, pairs, t)
    }
    d1.unpersist()
    println("sample_docs,truth_pairs,dedup_eval_sec")
    evSampleRows.foreach { case (s, p, t) => println(f"$s,$p,$t%.2f") }
    // late interaction: 64-d fixture vectors reinterpreted as 8 token
    // vectors of dim 8, exactly like the oracle row
    val embL = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(sequence(lit(0), lit(7)),
        t => slice(col("embedding"), t * 8 + 1, lit(8))).as("tok_vecs"))
    val nvL = embL.count()
    def repV(k: Int): DataFrame =
      (0 until k).map(i => embL.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        col("tok_vecs")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def lateJob(corpus: DataFrame, nQ: Int): Unit =
      Similarity.lateInteractionTopK(
        corpus = corpus, corpusId = "vec_id", corpusVecs = "tok_vecs",
        queries = embL.filter(col("vec_id") < nQ), queryId = "vec_id",
        queryVecs = "tok_vecs", k = 3)
        .write.mode("overwrite").format("noop").save()
    locally { val v1 = repV(1).localCheckpoint(); lateJob(v1, 5)
      v1.unpersist() }
    val liRows = for (k <- Seq(1, 2, 4)) yield {
      val v = repV(k).localCheckpoint()
      val t = median3(lateJob(v, 5))
      v.unpersist()
      (k, nvL * k, t)
    }
    println("corpus_x,vecs,late_interaction_q5_sec")
    liRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    val v1 = repV(1).localCheckpoint()
    val liQRows = for (q <- Seq(5, 10, 20)) yield (q, median3(lateJob(v1, q)))
    v1.unpersist()
    println("queries,late_interaction_x1_sec")
    liQRows.foreach { case (q, t) => println(f"$q,$t%.2f") }
    // 3-D skyline under replication (the Nd sibling of the 2-D cell)
    val p3Base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("q"),
        (-col("n_chars")).as("negc"),
        (-(col("doc_id") % 97)).as("negd"))
    def repP3(k: Int): DataFrame =
      (0 until k).map(i => p3Base.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        col("q"), col("negc"), (-(col("doc_id") % 97)).as("negd")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def p3Job(d: DataFrame): Unit =
      graft.ops.Ops.paretoFrontNd(Seq("q", "negc", "negd"))(d)
        .write.mode("overwrite").format("noop").save()
    locally { val p1 = repP3(1).localCheckpoint(); p3Job(p1); p1.unpersist() }
    val p3Rows = for (k <- Seq(1, 2, 4)) yield {
      val d = repP3(k).localCheckpoint()
      val t = median3(p3Job(d))
      val front = graft.ops.Ops.paretoFrontNd(
        Seq("q", "negc", "negd"))(d).count()
      d.unpersist()
      (k, ndA * k, front, t)
    }
    println("corpus_x,docs,front3d_rows,pareto_front_3d_sec")
    p3Rows.foreach { case (k, d, f, t) => println(f"$k,$d,$f,$t%.2f") }
    }

    phase("flag") {
    // The COMPOSED flagship chain under corpus growth — the cell that
    // pins "the seams compose linearly": extract → normalize → gopher
    // gate → line dedup → incremental fingerprint dedup → mix → pack,
    // the EXACT shared Flagship.run the oracle row checks. Replicas
    // are FRESH content — the token stream ROTATED by the replica
    // index (built OUTSIDE the timed region): identical vocabulary and
    // token stats, so the gopher gate judges replicas exactly like the
    // base, but every 8-token line reframes and every fingerprint
    // changes. An all-recrawl replication would be deduped away right
    // after the line pass and the tail stages would measure nothing —
    // rotation keeps every stage loaded ×k, so the curve prices the
    // whole composition, not its front half.
    val docsF = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source", "text")
    val ndF = docsF.count()
    def rawF(k: Int): DataFrame =
      (0 until k).map { i =>
        val tk = split(col("text"), " ")
        val fresh =
          if (i == 0) col("text")
          else array_join(
            concat(slice(tk, lit(i + 1), size(tk)), slice(tk, 1, i)), " ")
        docsF.select(
          (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
          col("lang"), col("source"),
          concat(lit("<html><head><style>p{}</style>"),
            lit("<script>var x;</script></head><body><!-- c --><p>"),
            fresh, lit("</p>&amp; fin</body></html>")).as("text"),
          col("doc_id").as("page_id"))
      }
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    // the mix budget is an OUTPUT knob — a real recipe scales it with
    // the corpus, and a fixed budget would thin the tail stages to a
    // constant and hide their growth from the out_rows column
    def flagJob(raw: DataFrame, history: Long, budget: Long): Unit =
      graft.pipeline.Flagship.run(raw, historyBelow = history,
        budgetRows = budget)
        .write.mode("overwrite").format("noop").save()
    locally { val r1 = rawF(1).localCheckpoint()
      flagJob(r1, ndF / 2, 500L); r1.unpersist() }
    val flagRows = for (k <- Seq(1, 2, 4)) yield {
      val r = rawF(k).localCheckpoint()
      // history = the first replica's lower half, batch = the rest
      val t = median3(flagJob(r, ndF / 2, 500L * k))
      // output rows printed alongside: proves the tail stages stay
      // LOADED ×k (an all-recrawl cell would shrink this to ~0)
      val outRows = graft.pipeline.Flagship.run(r,
        historyBelow = ndF / 2, budgetRows = 500L * k).count()
      r.unpersist()
      (k, ndF * k, outRows, t)
    }
    println("corpus_x,docs,out_rows,pipeline_flagship_sec")
    flagRows.foreach { case (k, d, o, t) => println(f"$k,$d,$o,$t%.2f") }
    }
    // ---- conversation assembly under TURN growth ------------------------
    // The axis that stresses the per-conversation linear folds: replicas
    // keep the SAME users but shift event time by i·400 days and the
    // order tiebreak by i·10M, so every conversation gets k× LONGER
    // (conversation count constant). assemble's span fold and truncate's
    // prefix-sum cut are O(turns) per conversation — the curve must stay
    // linear in k; the bind()-pinned truncate would be quadratic without
    // the pinning (29s vs 1.1s at sf0.1, the round-14 fix this cell
    // guards).
    phase("conv") {
    import graft.ext.Conversations
    val evC = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "signup", "system")
          .when(col("event_type").isin("view", "error"), "user")
          .otherwise("assistant").as("role"),
        concat_ws(" ", col("event_type"), col("props")).as("content"))
    val nTurns = evC.count()
    def longer(k: Int): DataFrame =
      (0 until k).map(i => evC.select(col("user_id"),
        (col("ts") + expr(s"INTERVAL ${i * 400} DAYS")).as("ts"),
        (col("event_id") + lit(i.toLong * 10_000_000L)).as("event_id"),
        col("role"), col("content")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def asmJob(d: DataFrame): Unit =
      Conversations.assemble("user_id", Seq("ts", "event_id"),
        "role", "content")(d)
        .write.mode("overwrite").format("noop").save()
    def truncJob(d: DataFrame): Unit =
      Conversations.truncate("user_id", Seq("ts", "event_id"),
        "role", "content", budget = 30)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = longer(1).localCheckpoint()
      asmJob(d1); truncJob(d1); d1.unpersist() }
    val convRows = for (k <- Seq(1, 2, 4)) yield {
      val d = longer(k).localCheckpoint()
      val ta = median3(asmJob(d))
      val tt = median3(truncJob(d))
      d.unpersist()
      (k, nTurns * k, ta, tt)
    }
    println("turns_x,turns,assemble_sec,truncate_sec")
    convRows.foreach { case (k, t, ta, tt) => println(f"$k,$t,$ta%.2f,$tt%.2f") }
    }

    phase("r14c") {
    // This session's heavyweights. setSimilarityJoin: replicas live in
    // DISJOINT token universes (per-replica token tag) — the honest
    // "corpus grows, duplicate density constant" model; cost must stay
    // ~linear because prefix buckets never span replicas. Uncontrolled
    // replication would instead BE a denser corpus (every replica
    // matches its twins — output itself quadratic, the documented
    // degenerate case). linkPrediction: disjoint-id replication
    // (linear), plus a degree-2000 hub uncapped vs maxDegree-capped —
    // the cap is the knob that kills the wedge blowup.
    import graft.ext.{Dedup => D, GraphOps => G, TextOps => T}
    val docsS = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    val nDocs = docsS.count()
    def taggedToks(k: Int): DataFrame =
      (0 until k).map(i => docsS.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        transform(T.shingles(col("text"), 3),
          t => concat(lit(s"r$i|"), t)).as("toks")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def ssj(d: DataFrame): Unit =
      D.setSimilarityJoin("doc_id", "toks", threshold = 0.5)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = taggedToks(1).localCheckpoint(); ssj(d1); d1.unpersist() }
    val ssjRows = for (k <- Seq(1, 2, 4)) yield {
      val d = taggedToks(k).localCheckpoint()
      val t = median3(ssj(d))
      d.unpersist()
      (k, nDocs * k, t)
    }
    println("corpus_x,docs,set_sim_join_sec")
    ssjRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }

    val evL = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
    val nEv = evL.count()
    def lpEdges(k: Int): DataFrame =
      (0 until k).map(i => evL.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 7 + col("event_id")) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def lp(e: DataFrame, cap: Int): Unit =
      G.linkPrediction("src", "dst", minCommon = 2, maxDegree = cap)(e)
        .write.mode("overwrite").format("noop").save()
    locally { val e1 = lpEdges(1).localCheckpoint(); lp(e1, 0); e1.unpersist() }
    val lpRows = for (k <- Seq(1, 2, 4)) yield {
      val e = lpEdges(k).localCheckpoint()
      val t = median3(lp(e, 0))
      e.unpersist()
      (k, nEv * k, t)
    }
    println("corpus_x,events,link_prediction_sec")
    lpRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    val lpHub = lpEdges(1).unionByName(
      spark.range(2000).select(lit(9_999_999L).as("src"),
        col("id").as("dst"))).localCheckpoint()
    locally { lp(lpHub, 256) }
    val tHubCap = median3(lp(lpHub, 256))
    val tHubRaw = median3(lp(lpHub, 0))
    lpHub.unpersist()
    println(f"lp_hub_stress: capped256,$tHubCap%.2f uncapped,$tHubRaw%.2f")
    }
    // ---- r15: the remaining r14 heavyweights + the rollingCorr knob ----
    phase("r15") {
    import graft.ops.{Ops => O15, WindowOps => W15}
    import graft.ext.{GraphOps => G15, TextOps => T15}
    // rollingCorr: rows-linearity at fixed window (disjoint-key
    // replication: keys ×k, rows ×k — window partitions never span
    // replicas), then the window-growth curve (cumsum-minus-lag frame
    // sums are O(1)/row, so the curve must be FLAT in window), then the
    // exact(decimal) vs exact=false(double) constant at equal shape.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice")
    val nLi = li.count()
    def liRep(k: Int): DataFrame =
      (0 until k).map(i => li.withColumn("l_returnflag",
        concat(col("l_returnflag"), lit(s"#$i"))))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def rcJob(d: DataFrame, w: Int, exact: Boolean): Unit =
      W15.rollingCorr(Seq("l_returnflag"),
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice"),
        "l_quantity", "l_extendedprice", window = w, exact = exact)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = liRep(1).localCheckpoint(); rcJob(d1, 10, true); d1.unpersist() }
    val rcRows = for (k <- Seq(1, 2, 4)) yield {
      val d = liRep(k).localCheckpoint()
      val tE = median3(rcJob(d, 10, true))
      val tF = median3(rcJob(d, 10, false))
      d.unpersist()
      (k, nLi * k, tE, tF)
    }
    println("corpus_x,rows,rolling_corr_exact_sec,rolling_corr_fast_sec")
    rcRows.foreach { case (k, d, a, b) => println(f"$k,$d,$a%.2f,$b%.2f") }
    locally {
      val d1 = liRep(1).localCheckpoint()
      val wRows = for (w <- Seq(10, 20, 40)) yield (w, median3(rcJob(d1, w, true)))
      d1.unpersist()
      println("window,rolling_corr_exact_sec")
      wRows.foreach { case (w, t) => println(f"$w,$t%.2f") }
    }
    // bradleyTerry / hits: disjoint-replica growth (items/nodes AND
    // duels/edges ×k) must be ~linear at fixed iterations; the
    // iteration sweep at ×1 pins flat per-round cost (each MM/HITS
    // round is one equi-join + hash-agg of the SAME pair frame).
    val ev15 = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select("user_id", "event_id")
    val nEv15 = ev15.count()
    def duels(k: Int): DataFrame =
      (0 until k).map(i => ev15.select(
        ((col("user_id") % 64) + lit(i.toLong * 1000L)).as("winner"),
        (((col("user_id") * 3 + col("event_id")) % 64) +
          lit(i.toLong * 1000L)).as("loser")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def btJob(d: DataFrame, iters: Int): Unit =
      O15.bradleyTerry("winner", "loser", iterations = iters,
        exactOrder = false)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = duels(1).localCheckpoint(); btJob(d1, 5); d1.unpersist() }
    val btRows = for (k <- Seq(1, 2, 4)) yield {
      val d = duels(k).localCheckpoint()
      val t = median3(btJob(d, 5))
      d.unpersist()
      (k, nEv15 * k, t)
    }
    println("corpus_x,duels,bradley_terry_sec")
    btRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    locally {
      val d1 = duels(1).localCheckpoint()
      val itRows = for (it <- Seq(5, 10, 20)) yield
        (it, median3(btJob(d1, it)))
      d1.unpersist()
      println("iterations,bradley_terry_sec,sec_per_iter")
      itRows.foreach { case (it, t) => println(f"$it,$t%.2f,${t / it}%.3f") }
    }
    def graph(k: Int): DataFrame =
      (0 until k).map(i => ev15.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 7 + col("event_id")) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def hitsJob(e: DataFrame, iters: Int): Unit =
      G15.hits("src", "dst", iterations = iters, exactOrder = false)(e)
        .write.mode("overwrite").format("noop").save()
    locally { val e1 = graph(1).localCheckpoint(); hitsJob(e1, 3); e1.unpersist() }
    val hRows = for (k <- Seq(1, 2, 4)) yield {
      val e = graph(k).localCheckpoint()
      val t = median3(hitsJob(e, 3))
      e.unpersist()
      (k, nEv15 * k, t)
    }
    println("corpus_x,edges,hits_sec")
    hRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    locally {
      val e1 = graph(1).localCheckpoint()
      val itRows = for (it <- Seq(3, 6, 12)) yield
        (it, median3(hitsJob(e1, it)))
      e1.unpersist()
      println("iterations,hits_sec,sec_per_iter")
      itRows.foreach { case (it, t) => println(f"$it,$t%.2f,${t / it}%.3f") }
    }
    // boilerplateLines: group-count growth — per-replica source tags
    // (groups ×k, docs ×k, per-group work constant) must be ~linear;
    // the per-group distinct-doc hash-agg is the whole cost.
    val docs15 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text")
    val nDocs15 = docs15.count()
    def docRep(k: Int): DataFrame =
      (0 until k).map(i => docs15.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        concat(col("source"), lit(s"#$i")).as("source"),
        col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def blJob(d: DataFrame): Unit =
      T15.boilerplateLines("doc_id", "source", "text",
        minDocFrac = 0.1, minDocs = 10)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = docRep(1).localCheckpoint(); blJob(d1); d1.unpersist() }
    val blRows = for (k <- Seq(1, 2, 4)) yield {
      val d = docRep(k).localCheckpoint()
      val t = median3(blJob(d))
      d.unpersist()
      (k, nDocs15 * k, t)
    }
    println("corpus_x,docs,boilerplate_lines_sec")
    blRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    }
    // ---- r15b: this round's debuts ----
    phase("r15b") {
    import graft.ops.{Ops => O15b}
    import graft.ext.{Frequency => F15b, GraphOps => G15b}
    import graft.probes.{Probes => P15b}
    // bootstrapCI: cost is explode × reps with map-side combine — must
    // be ~linear in reps AND in rows (disjoint-key replication)
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val nCust = cust.count()
    def custRep(k: Int): DataFrame =
      (0 until k).map(i => cust.select(
        (col("c_custkey") + lit(i.toLong * 10_000_000L)).as("c_custkey"),
        concat(col("c_mktsegment"), lit(s"#$i")).as("c_mktsegment"),
        col("c_acctbal")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def bciJob(d: DataFrame, reps: Int): Unit =
      P15b.bootstrapCI(col("c_custkey"), col("c_acctbal"), reps = reps,
        groupCols = Seq("c_mktsegment"))(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = custRep(1).localCheckpoint(); bciJob(d1, 100); d1.unpersist() }
    val bciRows = for (k <- Seq(1, 2, 4)) yield {
      val d = custRep(k).localCheckpoint()
      val t = median3(bciJob(d, 100))
      d.unpersist()
      (k, nCust * k, t)
    }
    println("corpus_x,rows,bootstrap_ci_sec")
    bciRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    locally {
      val d1 = custRep(4).localCheckpoint()
      val rRows = for (r <- Seq(100, 200, 400)) yield (r, median3(bciJob(d1, r)))
      d1.unpersist()
      println("reps,bootstrap_ci_sec")
      rRows.foreach { case (r, t) => println(f"$r,$t%.2f") }
    }
    // associationRules: baskets ×k with disjoint item universes (the
    // ssj replication doctrine) — pair space per basket constant, so
    // cost must stay ~linear
    val ev15b = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select("user_id", "event_type")
    val nEv15b = ev15b.count()
    def baskets(k: Int): DataFrame =
      (0 until k).map(i => ev15b.select(
        (col("user_id") + lit(i.toLong * 1_000_000L)).as("user_id"),
        concat(col("event_type"), lit(s"#$i")).as("event_type")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def arJob(d: DataFrame): Unit =
      F15b.associationRules("user_id", "event_type", minSupportCount = 5)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = baskets(1).localCheckpoint(); arJob(d1); d1.unpersist() }
    val arRows = for (k <- Seq(1, 2, 4)) yield {
      val d = baskets(k).localCheckpoint()
      val t = median3(arJob(d))
      d.unpersist()
      (k, nEv15b * k, t)
    }
    println("corpus_x,rows,association_rules_sec")
    arRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    // labelPropagation: disjoint-graph replication at fixed rounds
    // (~linear) + round sweep at ×1 (flat per round — the
    // pinIterationState guarantee)
    val evIds = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select("user_id", "event_id")
    def lpaGraph(k: Int): DataFrame =
      (0 until k).map(i => evIds.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 13 + col("event_id") * 7) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def lpaJob(e: DataFrame, rounds: Int): Unit =
      G15b.labelPropagation("src", "dst", rounds = rounds)(e)
        .write.mode("overwrite").format("noop").save()
    locally { val e1 = lpaGraph(1).localCheckpoint(); lpaJob(e1, 4); e1.unpersist() }
    val lpaRows = for (k <- Seq(1, 2, 4)) yield {
      val e = lpaGraph(k).localCheckpoint()
      val t = median3(lpaJob(e, 4))
      e.unpersist()
      (k, nEv15b * k, t)
    }
    println("corpus_x,edges,label_propagation_sec")
    lpaRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    locally {
      val e1 = lpaGraph(1).localCheckpoint()
      val rr = for (r <- Seq(4, 8, 16)) yield (r, median3(lpaJob(e1, r)))
      e1.unpersist()
      println("rounds,label_propagation_sec,sec_per_round")
      rr.foreach { case (r, t) => println(f"$r,$t%.2f,${t / r}%.3f") }
    }
    // quantileNormalize: rows ×k with disjoint groups — the pooled
    // zipWithIndex sort is the dominant cost and must stay ~linear
    val li15b = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice")
      .withColumn("rid", monotonically_increasing_id())
    val nLi15b = li15b.count()
    def liRep15b(k: Int): DataFrame =
      (0 until k).map(i => li15b.select(
        concat(col("l_returnflag"), lit(s"#$i")).as("g"),
        col("l_extendedprice").as("v"),
        (col("rid") + lit(i.toLong * 1_000_000_000L)).as("tb")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def qnJob(d: DataFrame): Unit =
      O15b.quantileNormalize("g", "v", "tb")(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = liRep15b(1).localCheckpoint(); qnJob(d1); d1.unpersist() }
    val qnRows = for (k <- Seq(1, 2, 4)) yield {
      val d = liRep15b(k).localCheckpoint()
      val t = median3(qnJob(d))
      d.unpersist()
      (k, nLi15b * k, t)
    }
    println("corpus_x,rows,quantile_normalize_sec")
    qnRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    }
    // ---- r15c: the exact-SSJoin incremental leg under INDEX growth ----
    // The recurring-crawl dimension: FIXED batch, accumulated history
    // ×1/×2/×4 (disjoint token universes per replica, the r14c ssj
    // doctrine — history growth must not quadratically inflate
    // candidates when the new batch only collides with its own
    // universe). Expect flat-to-linear: one stored-index scan per
    // batch + cross-universe buckets never materialize.
    phase("r15c") {
    import graft.ext.{Dedup => D15, TextOps => T15c}
    val docs15c = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    val nDocs15c = docs15c.count()
    def tagged(k: Int, tagBase: Int): DataFrame =
      (0 until k).map(i => docs15c.select(
        (col("doc_id") + lit((tagBase + i).toLong * 10_000_000L))
          .as("doc_id"),
        transform(T15c.shingles(col("text"), 3),
          t => concat(lit(s"u${tagBase + i}|"), t)).as("toks")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    // the batch lives in universe u0; history replicas u0..u(k-1), so
    // only the u0 slice of history can ever collide with the batch
    val batch15c = tagged(1, 0)
      .select((col("doc_id") + lit(500_000_000L)).as("doc_id"), col("toks"))
      .localCheckpoint()
    def issJob(idx: DataFrame): Unit =
      D15.incrementalSetSimilarity("doc_id", "toks", idx,
        threshold = 0.5)(batch15c)
        .write.mode("overwrite").format("noop").save()
    locally {
      val i1 = D15.ssjIndexRows("doc_id", "toks")(tagged(1, 0))
        .localCheckpoint()
      issJob(i1); i1.unpersist()
    }
    val issRows = for (k <- Seq(1, 2, 4)) yield {
      val idx = D15.ssjIndexRows("doc_id", "toks")(tagged(k, 0))
        .localCheckpoint()
      val t = median3(issJob(idx))
      idx.unpersist()
      (k, nDocs15c * k, t)
    }
    println("index_x,index_docs,incremental_set_sim_sec")
    issRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    }
    // ---- r16: EM-fit pattern flatness, modularity/RBO growth, the
    // prefix-column candidate-IO cut ----
    phase("r16") {
    import graft.ext.{Dedup => D16, GraphOps => G16, TextOps => T16}
    import graft.probes.{Probes => P16}
    // fellegiSunterFit: the pattern collapse makes each EM round
    // O(3^f) — ×1/×2/×4 pairs at fixed f should pay only the one
    // linear collapse scan, and the PER-ROUND marginal
    // (t(20 iters) − t(5 iters))/15 must be ~equal at ×1 and ×4
    // (round cost independent of pair count)
    val li16 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_quantity", "l_discount", "l_tax", "l_linenumber")
    val nLi16 = li16.count()
    def liRep16(k: Int): DataFrame =
      (0 until k).map(_ => li16).reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    val comps16 = Seq(
      ("qty_hi", col("l_quantity") >= 25),
      ("disc_lo", col("l_discount") <= 0.05),
      ("tax_lo", when(col("l_linenumber") % 7 === 0,
        lit(null).cast("boolean")).otherwise(col("l_tax") <= 0.04)))
    def fitJob(d: DataFrame, iters: Int): Unit =
      D16.fellegiSunterFit(comps16, iterations = iters)(d)
        .write.mode("overwrite").format("noop").save()
    locally { val d1 = liRep16(1).localCheckpoint(); fitJob(d1, 5); d1.unpersist() }
    val fitRows = for (k <- Seq(1, 2, 4)) yield {
      val d = liRep16(k).localCheckpoint()
      val t = median3(fitJob(d, 5))
      d.unpersist()
      (k, nLi16 * k, t)
    }
    println("pairs_x,pairs,fellegi_sunter_fit_sec")
    fitRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    locally {
      val marg = for (k <- Seq(1, 4)) yield {
        val d = liRep16(k).localCheckpoint()
        val t5 = median3(fitJob(d, 5))
        val t20 = median3(fitJob(d, 20))
        d.unpersist()
        (k, (t20 - t5) / 15.0)
      }
      println("pairs_x,fit_sec_per_em_round")
      marg.foreach { case (k, m) => println(f"$k,$m%.3f") }
    }
    // modularity: disjoint-graph replication ×1/×2/×4 (the lpaGraph
    // shape), labels = node % 50 (one row per node by construction) —
    // one edge scan + two label joins + two hash-aggs must stay linear
    val evIds16 = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select("user_id", "event_id")
    val nEv16 = evIds16.count()
    def modGraph(k: Int): DataFrame =
      (0 until k).map(i => evIds16.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 13 + col("event_id") * 7) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def modJob(e: DataFrame): Unit = {
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
      G16.modularity(nodes.select(col("node"),
        (col("node") % 50).as("community")))(e)
        .write.mode("overwrite").format("noop").save()
    }
    locally { val e1 = modGraph(1).localCheckpoint(); modJob(e1); e1.unpersist() }
    val modRows = for (k <- Seq(1, 2, 4)) yield {
      val e = modGraph(k).localCheckpoint()
      val t = median3(modJob(e))
      e.unpersist()
      (k, nEv16 * k, t)
    }
    println("graph_x,edges,graph_modularity_sec")
    modRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }
    // rankBiasedOverlap: queries ×1/×2/×4 at depth 10 (linear in the
    // ranking volume), then depth 10/20/40 at ×4 (the per-item
    // sequence explode is O(depth) — ~linear, never quadratic)
    import org.apache.spark.sql.expressions.Window
    val rankBase = evIds16
      .select((col("user_id") % 500).as("q"), col("event_id"))
      .withColumn("r", row_number().over(Window.partitionBy("q")
        .orderBy(col("event_id"))))
      .filter(col("r") <= 40)
      .localCheckpoint()
    def rankSide(k: Int, perturb: Boolean): DataFrame =
      (0 until k).map(i => rankBase.select(
        (col("q") + lit(i.toLong * 1_000_000L)).as("q"),
        (if (perturb) (col("event_id") * 7) % 997
         else col("event_id") % 997).as("item"),
        col("r")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def rboJob(a: DataFrame, b: DataFrame, depth: Int): Unit =
      P16.rankBiasedOverlap(b, "q", "item", "r", depth = depth)(a)
        .write.mode("overwrite").format("noop").save()
    locally {
      val a1 = rankSide(1, perturb = false).localCheckpoint()
      val b1 = rankSide(1, perturb = true).localCheckpoint()
      rboJob(a1, b1, 10); a1.unpersist(); b1.unpersist()
    }
    val rboRows = for (k <- Seq(1, 2, 4)) yield {
      val a = rankSide(k, perturb = false).localCheckpoint()
      val b = rankSide(k, perturb = true).localCheckpoint()
      val t = median3(rboJob(a, b, 10))
      a.unpersist(); b.unpersist()
      (k, t)
    }
    println("queries_x,rank_biased_overlap_sec")
    rboRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    locally {
      val a4 = rankSide(4, perturb = false).localCheckpoint()
      val b4 = rankSide(4, perturb = true).localCheckpoint()
      val dr = for (d <- Seq(10, 20, 40)) yield (d, median3(rboJob(a4, b4, d)))
      a4.unpersist(); b4.unpersist()
      println("depth,rank_biased_overlap_sec")
      dr.foreach { case (d, t) => println(f"$d,$t%.2f") }
    }
    // prefix-column candidate IO: the SAME parquet-backed index stored
    // in the 4-column (toks_prefix candidates, column-pruned scan) and
    // legacy 3-column (full-toks candidate scan) formats, same fixed
    // batch — the wall gap is the r15 watch item's fix; the byte
    // fraction states how much of the token column the candidate
    // stage no longer reads
    val docs16 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    val idxRows16 = D16.ssjIndexRows("doc_id", "toks")(
      docs16.select(col("doc_id"),
        T16.shingles(col("text"), 3).as("toks")))
      .localCheckpoint()
    val frac = idxRows16
      .agg((sum(size(col("toks_prefix"))).cast("double") /
        sum(size(col("toks"))).cast("double")).as("f"))
      .head().getDouble(0)
    val tmp16 = java.nio.file.Files.createTempDirectory("ssjpfx").toString
    idxRows16.write.mode("overwrite").parquet(s"$tmp16/idx4")
    idxRows16.select("id", "toks", "n")
      .write.mode("overwrite").parquet(s"$tmp16/idx3")
    idxRows16.unpersist()
    val batch16 = docs16.select(
      (col("doc_id") + lit(500_000_000L)).as("doc_id"),
      T16.shingles(col("text"), 3).as("toks"))
      .localCheckpoint()
    def issJob16(path: String): Unit =
      D16.incrementalSetSimilarity("doc_id", "toks",
        spark.read.parquet(path), threshold = 0.5)(batch16)
        .write.mode("overwrite").format("noop").save()
    issJob16(s"$tmp16/idx4") // warm
    val tPfx = median3(issJob16(s"$tmp16/idx4"))
    val tLegacy = median3(issJob16(s"$tmp16/idx3"))
    // the candidate-stage IO claim, stated structurally: the bytes a
    // column-pruned candidate scan must decode are the on-disk parquet
    // size of exactly its ReadSchema — (id, n, toks_prefix) for the
    // 4-column format vs (id, n, toks) for the legacy one (the same
    // encoder writes both projections, so the sizes are comparable)
    def projBytes(cols: Seq[String], out: String): Double = {
      spark.read.parquet(s"$tmp16/idx4").select(cols.map(col): _*)
        .write.mode("overwrite").parquet(s"$tmp16/$out")
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$tmp16/$out"))
      try walk.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum() / 1e6
      finally walk.close()
    }
    val mbPfx = projBytes(Seq("id", "n", "toks_prefix"), "scan4")
    val mbLegacy = projBytes(Seq("id", "n", "toks"), "scan3")
    println("prefix_token_frac,iss_prefix_sec,iss_legacy_sec," +
      "cand_scan_prefix_mb,cand_scan_legacy_mb")
    println(f"$frac%.3f,$tPfx%.2f,$tLegacy%.2f,$mbPfx%.1f,$mbLegacy%.1f")
    }

    // ---- r16b: the second r16 wave's debuts — trigram LM (docs AND
    // table growth), Krippendorff α, k-core (edges + rounds), corpus
    // divergence (corpus + sources), Spearman, Kendall (groups at
    // fixed n — the guarded-quadratic op's honest dimension) ----
    phase("r16b") {
    import graft.ext.{GraphOps => G16b, TextOps => T16b}
    import graft.probes.{Probes => P16b}

    // trigramLmQuality: docs ×1/×2/×4 at a FIXED count table (linear
    // in trigram positions — the scoring pass), then table ×1/×2/×4 at
    // a FIXED batch with replica-tagged (disjoint) tokens: the stream
    // only ever matches replica-0 grams, so any slope is pure
    // table-side cost (the table-sized self-joins + equi-join builds)
    val lmTable16 = T16b.lmCountTable("text")(
      replicated(1).filter(col("text").isNotNull))
      .localCheckpoint()
    def lmJob(d: DataFrame, tbl: DataFrame): Unit =
      noop(T16b.trigramLmQuality("doc_id", "text", tbl,
        exactOrder = false)(d))
    locally { val d1 = replicated(1); lmJob(d1, lmTable16) } // warm
    val lmRows = for (k <- Seq(1, 2, 4)) yield
      (k, median3(lmJob(replicated(k), lmTable16)))
    println("docs_x,trigram_lm_sec")
    lmRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    def lmTableRep(k: Int): DataFrame =
      (0 until k).map { i =>
        if (i == 0) lmTable16
        else lmTable16.select(col("n"),
          regexp_replace(col("gram"), lit("(^| )"), lit(s"$$1r$i#"))
            .as("gram"),
          col("occurrences"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    val lmTblRows = for (k <- Seq(1, 2, 4)) yield {
      val tbl = lmTableRep(k).localCheckpoint()
      val t = median3(lmJob(replicated(1), tbl))
      tbl.unpersist()
      (k, t)
    }
    println("table_x,trigram_lm_sec")
    lmTblRows.foreach { case (k, t) => println(f"$k,$t%.2f") }

    // krippendorffAlpha: ratings ×1/×2/×4, disjoint items (the
    // variable-n long frame; two hash-aggs + bounded folds — linear).
    // production knob (exactOrder=false): the pinned fold is the
    // oracle contract, not the scale path
    val ev16b = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"))
    val nEv16b = ev16b.count()
    def ratings(k: Int): DataFrame =
      (0 until k).map(i => ev16b.select(
        ((col("user_id") % 20000) + lit(i.toLong * 1_000_000L)).as("item"),
        col("event_type").as("label")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def kaJob(d: DataFrame): Unit =
      noop(P16b.krippendorffAlpha(col("item"), col("label"),
        exactOrder = false)(d))
    locally { val d1 = ratings(1).localCheckpoint(); kaJob(d1); d1.unpersist() }
    val kaRows = for (k <- Seq(1, 2, 4)) yield {
      val d = ratings(k).localCheckpoint()
      val t = median3(kaJob(d)); d.unpersist()
      (k, nEv16b * k, t)
    }
    println("ratings_x,ratings,krippendorff_alpha_sec")
    kaRows.foreach { case (k, d, t) => println(f"$k,$d,$t%.2f") }

    // kCore: edges ×1/×2/×4 (disjoint graphs — per-round cost is two
    // semi-joins + one hash-agg over the live edge list, linear), then
    // rounds 3/6/12 at ×1 (flat per round — pinIterationState holding)
    def coreGraph(k: Int): DataFrame =
      (0 until k).map(i => ev16b.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 13 + col("user_id") * col("user_id") % 97
          + 1) % 2000) + lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def coreJob(e: DataFrame, rounds: Int): Unit =
      noop(G16b.kCore("src", "dst", k = 9, rounds = rounds)(e))
    locally { val e1 = coreGraph(1).localCheckpoint(); coreJob(e1, 6); e1.unpersist() }
    val coreRows = for (k <- Seq(1, 2, 4)) yield {
      val e = coreGraph(k).localCheckpoint()
      val t = median3(coreJob(e, 6)); e.unpersist()
      (k, t)
    }
    println("edges_x,k_core_sec")
    coreRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    locally {
      val e1 = coreGraph(1).localCheckpoint()
      val rr = for (r <- Seq(3, 6, 12)) yield (r, median3(coreJob(e1, r)))
      e1.unpersist()
      println("rounds,k_core_sec")
      rr.foreach { case (r, t) => println(f"$r,$t%.2f") }
    }

    // corpusDivergence: corpus ×1/×2/×4 at fixed |S| (the token scan
    // + (source, term) hash-agg is the only corpus-sized stage —
    // linear), then sources 4/8/16 at fixed corpus (the |S|²/2 pair
    // stage lives on (V+1)-row frames — must stay ~flat)
    def divCorpus(k: Int, sources: Int): DataFrame =
      (0 until k).map(i => base.select(
        concat(lit("s"), (col("doc_id") % sources).cast("string"))
          .as("source"),
        col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def divJob(d: DataFrame): Unit =
      noop(T16b.corpusDivergence("source", "text", topV = 200)(d))
    locally { val d1 = divCorpus(1, 8).localCheckpoint(); divJob(d1); d1.unpersist() }
    val divRows = for (k <- Seq(1, 2, 4)) yield {
      val d = divCorpus(k, 8).localCheckpoint()
      val t = median3(divJob(d)); d.unpersist()
      (k, t)
    }
    println("corpus_x,corpus_divergence_sec")
    divRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    locally {
      val sr = for (s <- Seq(4, 8, 16)) yield {
        val d = divCorpus(1, s).localCheckpoint()
        val t = median3(divJob(d)); d.unpersist()
        (s, t)
      }
      println("sources,corpus_divergence_sec")
      sr.foreach { case (s, t) => println(f"$s,$t%.2f") }
    }

    // spearmanCorr: rows ×1/×2/×4, disjoint groups — two per-group
    // rank() windows (per-key sort, n·log n) + one hash-agg
    val li16b = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_extendedprice").isNotNull)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_quantity"))
    def spearRows(k: Int): DataFrame =
      (0 until k).map(i => li16b.select(
        ((col("l_suppkey") % 64) + lit(i.toLong * 1_000L)).as("g"),
        col("l_extendedprice").as("x"), col("l_quantity").as("y")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def spearJob(d: DataFrame): Unit =
      noop(P16b.spearmanCorr("g", "x", "y")(d))
    locally { val d1 = spearRows(1).localCheckpoint(); spearJob(d1); d1.unpersist() }
    val spRows = for (k <- Seq(1, 2, 4)) yield {
      val d = spearRows(k).localCheckpoint()
      val t = median3(spearJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,spearman_corr_sec")
    spRows.foreach { case (k, t) => println(f"$k,$t%.2f") }

    // kendallTau: groups ×1/×2/×4 at FIXED group size (~100 rows →
    // ~5k pairs/group): linear in groups is the op's honest scale
    // dimension — growth WITHIN a group is O(n²) by construction and
    // guarded by maxN, so it is not a curve to fit, it is a contract
    val kt16b = li16b.limit(100 * 64)
    def tauGroups(k: Int): DataFrame =
      (0 until k).map(i => kt16b.select(
        ((col("l_suppkey") % 64) + lit(i.toLong * 1_000L)).as("g"),
        col("l_extendedprice").as("x"), col("l_quantity").as("y")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("i", monotonically_increasing_id())
    def tauJob(d: DataFrame): Unit =
      noop(P16b.kendallTau("g", "i", "x", "y", maxN = 1000)(d))
    locally { val d1 = tauGroups(1).localCheckpoint(); tauJob(d1); d1.unpersist() }
    val ktRows = for (k <- Seq(1, 2, 4)) yield {
      val d = tauGroups(k).localCheckpoint()
      val t = median3(tauJob(d)); d.unpersist()
      (k, t)
    }
    println("groups_x,kendall_tau_sec")
    ktRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    }

    // ---- r16c: the two-sample rank tests — rows ×k over disjoint
    // groups (the spearman window cost class, measured on its own
    // ops; bhCorrect is |tests|-sized by contract, no curve to fit) ----
    phase("r16c") {
    import graft.probes.{Probes => P16c}
    val li16c = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_extendedprice").isNotNull)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_extendedprice"))
    def sides(k: Int): DataFrame =
      (0 until k).map(i => li16c.select(
        ((col("l_suppkey") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("l_orderkey") % 2 === 0).as("a"),
        col("l_extendedprice").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def mwJob(d: DataFrame): Unit =
      noop(P16c.mannWhitneyU(col("a"), col("x"), Seq("g"))(d))
    def ksJob(d: DataFrame): Unit =
      noop(P16c.ksTest(col("a"), col("x"), Seq("g"))(d))
    locally { val d1 = sides(1).localCheckpoint(); mwJob(d1); ksJob(d1); d1.unpersist() }
    val rows16c = for (k <- Seq(1, 2, 4)) yield {
      val d = sides(k).localCheckpoint()
      val tm = median3(mwJob(d))
      val tk = median3(ksJob(d))
      d.unpersist()
      (k, tm, tk)
    }
    println("rows_x,mann_whitney_sec,ks_2sample_sec")
    rows16c.foreach { case (k, tm, tk) => println(f"$k,$tm%.2f,$tk%.2f") }

    // holtWinters (production ring-buffer scan): events ×1/×2/×4 over
    // disjoint keys — one repartition + per-key O(period) state, must
    // track the sort; period 4/16/64 at ×1 must be FLAT (the ring is
    // state, not work)
    val ev16c = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    def hwEvents(k: Int): DataFrame =
      (0 until k).map(i => ev16c.select(
        (col("user_id") + lit(i.toLong * 10_000_000L)).as("user_id"),
        col("ts"), col("event_id"), col("value")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def hwJob(d: DataFrame, period: Int): Unit =
      noop(graft.ops.WindowOps.holtWinters("user_id", "ts", "value",
        alpha = 0.3, beta = 0.1, gamma = 0.2, period = period,
        tieBreak = "event_id", exactOrder = false)(d))
    locally { val d1 = hwEvents(1).localCheckpoint(); hwJob(d1, 4); d1.unpersist() }
    val hwRows = for (k <- Seq(1, 2, 4)) yield {
      val d = hwEvents(k).localCheckpoint()
      val t = median3(hwJob(d, 4)); d.unpersist()
      (k, t)
    }
    println("events_x,holt_winters_sec")
    hwRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    locally {
      val d1 = hwEvents(1).localCheckpoint()
      val pr = for (p <- Seq(4, 16, 64)) yield (p, median3(hwJob(d1, p)))
      d1.unpersist()
      println("period,holt_winters_sec")
      pr.foreach { case (p, t) => println(f"$p,$t%.2f") }
    }

    // kTruss: edges ×1/×2/×4 over disjoint graphs — per round the
    // oriented wedge enumeration is Σ outdeg², linear under disjoint
    // replication (cross-replica wedges never form)
    def trussGraph(k: Int): DataFrame =
      (0 until k).map(i => ev16c.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("src"),
        (((col("user_id") * 13 + col("event_id") * 7) % 2000) +
          lit(i.toLong * 1_000_000L)).as("dst")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def trussJob(e: DataFrame): Unit =
      noop(graft.ext.GraphOps.kTruss("src", "dst", k = 4, rounds = 3)(e))
    locally { val e1 = trussGraph(1).localCheckpoint(); trussJob(e1); e1.unpersist() }
    val trussRows = for (k <- Seq(1, 2, 4)) yield {
      val e = trussGraph(k).localCheckpoint()
      val t = median3(trussJob(e)); e.unpersist()
      (k, t)
    }
    println("edges_x,k_truss_sec")
    trussRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    }

    // ---- r17: the incremental k-truss round-collapse claim, the r16
    // debuts that lacked cells (theilSen groups, bhCorrect |tests|,
    // the one-hash-agg flat attestation, flesch linearity), and the
    // recurring-crawl LM dimension (fixed batch, growing table) ----
    phase("r17") {
    import graft.probes.{Probes => P17}
    import graft.ext.{TextOps => T17}
    // kTruss at rounds 1/5/10/30 on the FIXED oracle-shaped graph
    // (fixpoint at ~5): maintained supports pay the one full wedge
    // enumeration at round 0 and peel-front-proportional deltas after,
    // and the early stop makes post-fixpoint rounds FREE — the curve
    // must climb only while the front moves, then go flat. The old
    // full-recompute design paid a whole Σ outdeg² enumeration per
    // round, converged or not (rounds=30 would cost 6× rounds=5).
    val ev17 = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select("user_id", "event_id")
    val truss17 = ev17.select(
      (col("user_id") % 2000).as("src"),
      ((col("user_id") * 13 + col("event_id") * 7) % 2000).as("dst"))
      .localCheckpoint()
    def trussJob17(rounds: Int): Unit =
      noop(graft.ext.GraphOps.kTruss("src", "dst", k = 4,
        rounds = rounds)(truss17))
    trussJob17(1)
    println("rounds,k_truss_sec")
    for (r <- Seq(1, 5, 10, 30))
      println(f"$r,${median3(trussJob17(r))}%.2f")
    truss17.unpersist()
    // theilSen: groups ×1/×2/×4 at FIXED ~100-row groups (the
    // kendallTau cell's shape, same contract: growth WITHIN a group is
    // guarded O(n²), growth in GROUPS is the honest scale dimension
    // and must be ~linear)
    val li17 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_extendedprice").isNotNull &&
        col("l_quantity").isNotNull && col("l_orderkey").isNotNull)
      .select("l_suppkey", "l_orderkey", "l_extendedprice", "l_quantity")
    val ts17 = li17.limit(100 * 64)
    def tsGroups(k: Int): DataFrame =
      (0 until k).map(i => ts17.select(
        ((col("l_suppkey") % 64) + lit(i.toLong * 1_000L)).as("g"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("i", monotonically_increasing_id())
    def tsJob(d: DataFrame): Unit =
      noop(P17.theilSen("g", "i", "x", "y", maxN = 1000)(d))
    locally { val d1 = tsGroups(1).localCheckpoint(); tsJob(d1); d1.unpersist() }
    val tsRows = for (k <- Seq(1, 2, 4)) yield {
      val d = tsGroups(k).localCheckpoint()
      val t = median3(tsJob(d)); d.unpersist()
      (k, t)
    }
    println("groups_x,theil_sen_sec")
    tsRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // bhCorrect: |tests| ×1/×2/×4 — one global sort window over the
    // family (the step-up is suffix-min over the sorted p-frame), so
    // the curve is |tests|·log|tests|, never quadratic
    def pvals(k: Int): DataFrame =
      spark.range(0, 100_000L * k).select(
        col("id").cast("string").as("id"),
        (((col("id") * 7919L) % 99991L).cast("double") / lit(99991.0))
          .as("p"))
        .repartition(spark.sparkContext.defaultParallelism)
    def bhJob(d: DataFrame): Unit =
      noop(P17.bhCorrect("id", "p", alpha = 0.05)(d))
    locally { val d1 = pvals(1).localCheckpoint(); bhJob(d1); d1.unpersist() }
    val bhRows = for (k <- Seq(1, 2, 4)) yield {
      val d = pvals(k).localCheckpoint()
      val t = median3(bhJob(d)); d.unpersist()
      (k, t)
    }
    println("tests_x,bh_correct_sec")
    bhRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // flat attestation for the one-hash-agg tests (mcnemar /
    // proportion-z; brownForsythe adds one per-(g, side) median
    // window) — rows ×1/×2/×4 over 64 groups must track the scan
    def abRows(k: Int): DataFrame =
      (0 until k).map(i => li17.select(
        ((col("l_suppkey") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("l_orderkey") % 2 === 0).as("a"),
        (col("l_quantity") >= 25).as("s"),
        (col("l_extendedprice") >= 30000).as("s2"),
        col("l_extendedprice").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def mcJob(d: DataFrame): Unit =
      noop(P17.mcnemarTest(col("s"), col("s2"), Seq("g"))(d))
    def pzJob(d: DataFrame): Unit =
      noop(P17.proportionZTest(col("a"), col("s"), Seq("g"))(d))
    def bfJob(d: DataFrame): Unit =
      noop(P17.brownForsythe(col("a"), col("x"), Seq("g"))(d))
    locally { val d1 = abRows(1).localCheckpoint()
      mcJob(d1); pzJob(d1); bfJob(d1); d1.unpersist() }
    val abOut = for (k <- Seq(1, 2, 4)) yield {
      val d = abRows(k).localCheckpoint()
      val tm = median3(mcJob(d)); val tp = median3(pzJob(d))
      val tb = median3(bfJob(d)); d.unpersist()
      (k, tm, tp, tb)
    }
    println("rows_x,mcnemar_sec,proportion_z_sec,brown_forsythe_sec")
    abOut.foreach { case (k, tm, tp, tb) =>
      println(f"$k,$tm%.2f,$tp%.2f,$tb%.2f") }
    // fleschReadability: docs ×1/×2/×4 — a pure per-row projection
    // (vowel-group/sentence-run counts), must be linear in rows
    val docs17 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    def fleschDocs(k: Int): DataFrame =
      (0 until k).map(i => docs17.select(
        (col("doc_id") + lit(i.toLong * 100_000_000L)).as("doc_id"),
        col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def flJob(d: DataFrame): Unit =
      noop(T17.fleschReadability("doc_id", "text")(d))
    locally { val d1 = fleschDocs(1).localCheckpoint(); flJob(d1); d1.unpersist() }
    val flRows = for (k <- Seq(1, 2, 4)) yield {
      val d = fleschDocs(k).localCheckpoint()
      val t = median3(flJob(d)); d.unpersist()
      (k, t)
    }
    println("docs_x,flesch_sec")
    flRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // the recurring-crawl LM dimension: a FIXED scored batch against a
    // count table grown by merging in vocabulary-shifted increments
    // (union + groupBy-sum, the count-merge identity) ×1/×2/×4 —
    // scoring pays three TABLE-sized digest self-joins + the position
    // stream, so batch-scoring time must stay ~flat as the stored
    // model grows (the lmStats self-joins are table-sized, the
    // position stream is batch-sized)
    val shift17 = "abcdefghijklmnopqrstuvwxyz"
    def mut(i: Int): org.apache.spark.sql.Column =
      if (i == 0) col("text")
      else translate(col("text"), shift17,
        shift17.drop(i) + shift17.take(i))
    def lmTable(k: Int): DataFrame =
      (0 until k).map(i =>
        T17.lmCountTable("text")(docs17.select(mut(i).as("text"))))
        .reduce(_ unionByName _)
        .groupBy("n", "gram")
        .agg(sum(col("occurrences")).as("occurrences"))
        .select("n", "gram", "occurrences")
        .localCheckpoint()
    def lmJob(counts: DataFrame): Unit =
      noop(T17.trigramLmQuality("doc_id", "text", counts,
        exactOrder = false)(docs17))
    locally { val t1 = lmTable(1); lmJob(t1); t1.unpersist() }
    val lmRows = for (k <- Seq(1, 2, 4)) yield {
      val tab = lmTable(k)
      val rows = tab.count()
      val t = median3(lmJob(tab)); tab.unpersist()
      (k, rows, t)
    }
    println("table_x,table_rows,trigram_lm_score_sec")
    lmRows.foreach { case (k, r, t) => println(f"$k,$r,$t%.2f") }
    }

    // ---- r17b: the round-17 debuts' own cells — paired tests,
    // weighted alpha (rows AND label-cardinality dimensions), the
    // value-drift gate's batch path, and the ccnet composition ----
    phase("r17b") {
    import graft.probes.{Probes => P17b}
    import graft.ext.{TextOps => T17b}
    // wilcoxonSignedRank (one rank window per group — the MWU cost
    // class) and signTest (one hash-agg — must be flat) on the same
    // paired frame, rows ×1/×2/×4 over disjoint groups
    val ev17b = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("value").isNotNull && col("event_id").isNotNull &&
        col("user_id").isNotNull)
      .select("user_id", "event_id", "value")
    def paired(k: Int): DataFrame =
      (0 until k).map(i => ev17b.select(
        ((col("user_id") % 64) + lit(i.toLong * 1_000L)).as("g"),
        col("value").as("a"),
        (col("event_id") % 400).cast("double").as("b")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def wsrJob(d: DataFrame): Unit =
      noop(P17b.wilcoxonSignedRank(col("a"), col("b"), Seq("g"))(d))
    def stJob(d: DataFrame): Unit =
      noop(P17b.signTest(col("a"), col("b"), Seq("g"))(d))
    locally { val d1 = paired(1).localCheckpoint()
      wsrJob(d1); stJob(d1); d1.unpersist() }
    val prRows = for (k <- Seq(1, 2, 4)) yield {
      val d = paired(k).localCheckpoint()
      val tw = median3(wsrJob(d)); val ts2 = median3(stJob(d))
      d.unpersist()
      (k, tw, ts2)
    }
    println("rows_x,wilcoxon_signed_rank_sec,sign_test_sec")
    prRows.foreach { case (k, tw, ts2) => println(f"$k,$tw%.2f,$ts2%.2f") }
    // krippendorffAlphaWeighted (ordinal): ratings ×1/×2/×4 over
    // disjoint items (must track the cells hash-agg), then label
    // cardinality 6/12/24 at ×1 (the |V|² pair frame lives on the
    // marginals — label growth must stay invisible next to the scan)
    def ratings(k: Int, levels: Int): DataFrame =
      (0 until k).map(i => ev17b.select(
        ((col("user_id") % 2000) + lit(i.toLong * 1_000_000L)).as("item"),
        (col("event_id") % levels).cast("double").as("v")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def kawJob(d: DataFrame): Unit =
      noop(P17b.krippendorffAlphaWeighted(col("item"), col("v"),
        "ordinal", exactOrder = false)(d))
    locally { val d1 = ratings(1, 6).localCheckpoint(); kawJob(d1); d1.unpersist() }
    val kawRows = for (k <- Seq(1, 2, 4)) yield {
      val d = ratings(k, 6).localCheckpoint()
      val t = median3(kawJob(d)); d.unpersist()
      (k, t)
    }
    println("ratings_x,krippendorff_ordinal_sec")
    kawRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    locally {
      val lr = for (lv <- Seq(6, 12, 24)) yield {
        val d = ratings(1, lv).localCheckpoint()
        val t = median3(kawJob(d)); d.unpersist()
        (lv, t)
      }
      println("labels,krippendorff_ordinal_sec")
      lr.foreach { case (lv, t) => println(f"$lv,$t%.2f") }
    }
    // windowedValueDrift batch path: rows ×1/×2/×4 — one stateful-agg
    // shape (64 conditional counters + total), must track the scan
    val evTs = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("ts").isNotNull).select("ts", "value")
    def drift(k: Int): DataFrame =
      (0 until k).map(_ => evTs).reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    val ref64 = Seq.fill(64)(100L)
    def vdJob(d: DataFrame): Unit =
      noop(graft.streaming.Streaming.windowedValueDrift(d, "value",
        ref64, lo = 0.0, hi = 500.0, windowLength = "6 hours"))
    locally { val d1 = drift(1).localCheckpoint(); vdJob(d1); d1.unpersist() }
    val vdRows = for (k <- Seq(1, 2, 4)) yield {
      val d = drift(k).localCheckpoint()
      val t = median3(vdJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,value_drift_gate_sec")
    vdRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // ccnetBuckets: docs ×1/×2/×4 against a FIXED stored count table —
    // must track the LM leg (its three digest equi-joins are the bill;
    // the percentile window runs on the per-(source, score) histogram)
    val docs17b = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").filter(col("text").isNotNull)
    val table17b = T17b.lmCountTable("text")(docs17b).localCheckpoint()
    def ccDocs(k: Int): DataFrame =
      (0 until k).map(i => docs17b.select(
        (col("doc_id") + lit(i.toLong * 100_000_000L)).as("doc_id"),
        concat(col("source"), lit(s"_$i")).as("source"), col("text")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def ccJob(d: DataFrame): Unit =
      noop(T17b.ccnetBuckets("doc_id", "source", "text", table17b,
        exactOrder = false)(d))
    locally { val d1 = ccDocs(1).localCheckpoint(); ccJob(d1); d1.unpersist() }
    val ccRows = for (k <- Seq(1, 2, 4)) yield {
      val d = ccDocs(k).localCheckpoint()
      val t = median3(ccJob(d)); d.unpersist()
      (k, t)
    }
    println("docs_x,ccnet_buckets_sec")
    ccRows.foreach { case (k, t) => println(f"$k,$t%.2f") }
    table17b.unpersist()
    // kruskalWallis (one pooled rank window per group — the MWU cost
    // class) rows ×1/×2/×4 over disjoint groups; friedmanTest (blocks
    // are the parallelism unit: k-row sorts) blocks ×1/×2/×4
    def kwRows(k: Int): DataFrame =
      (0 until k).map(i => ev17b.select(
        ((col("user_id") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("event_id") % 3).as("v"), col("value").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def kwJob(d: DataFrame): Unit =
      noop(P17b.kruskalWallis(col("v"), col("x"), Seq("g"))(d))
    locally { val d1 = kwRows(1).localCheckpoint(); kwJob(d1); d1.unpersist() }
    val kwOut = for (k <- Seq(1, 2, 4)) yield {
      val d = kwRows(k).localCheckpoint()
      val t = median3(kwJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,kruskal_wallis_sec")
    kwOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    def frBlocks(k: Int): DataFrame =
      (0 until k).map(i => ev17b
        .groupBy(((col("user_id") % 2000) + lit(i.toLong * 1_000_000L))
          .as("b"), (col("event_id") % 3).as("t"))
        .agg(max(col("value")).as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def frJob(d: DataFrame): Unit =
      noop(P17b.friedmanTest("b", "t", col("x"))(d))
    locally { val d1 = frBlocks(1).localCheckpoint(); frJob(d1); d1.unpersist() }
    val frOut = for (k <- Seq(1, 2, 4)) yield {
      val d = frBlocks(k).localCheckpoint()
      val t = median3(frJob(d)); d.unpersist()
      (k, t)
    }
    println("blocks_x,friedman_test_sec")
    frOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // oneWayAnova (two hash-aggs — the attested flat class) and
    // brownForsytheK (adds one per-(group, variant) median window)
    // rows ×1/×2/×4 over disjoint groups
    // the ANOVA cells measure the SAME frame shape as kruskalWallis —
    // reuse its builder (review-caught duplication)
    def aovJob(d: DataFrame): Unit =
      noop(P17b.oneWayAnova(col("v"), col("x"), Seq("g"))(d))
    def bfkJob(d: DataFrame): Unit =
      noop(P17b.brownForsytheK(col("v"), col("x"), Seq("g"))(d))
    locally { val d1 = kwRows(1).localCheckpoint()
      aovJob(d1); bfkJob(d1); d1.unpersist() }
    val aovOut = for (k <- Seq(1, 2, 4)) yield {
      val d = kwRows(k).localCheckpoint()
      val ta = median3(aovJob(d)); val tb = median3(bfkJob(d))
      d.unpersist()
      (k, ta, tb)
    }
    println("rows_x,one_way_anova_sec,brown_forsythe_k_sec")
    aovOut.foreach { case (k, ta, tb) => println(f"$k,$ta%.2f,$tb%.2f") }
    // cochranQ: blocks ×1/×2/×4 (the friedman shape minus the rank
    // window — four hash-aggs, must be flat-to-linear)
    def cqBlocks(k: Int): DataFrame =
      (0 until k).map(i => ev17b
        .groupBy(((col("user_id") % 2000) + lit(i.toLong * 1_000_000L))
          .as("b"), (col("event_id") % 3).as("t"))
        .agg((sum(when(col("value") >= 100, 1L).otherwise(0L)) > 0L)
          .as("s")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def cqJob(d: DataFrame): Unit =
      noop(P17b.cochranQ("b", "t", col("s"))(d))
    locally { val d1 = cqBlocks(1).localCheckpoint(); cqJob(d1); d1.unpersist() }
    val cqOut = for (k <- Seq(1, 2, 4)) yield {
      val d = cqBlocks(k).localCheckpoint()
      val t = median3(cqJob(d)); d.unpersist()
      (k, t)
    }
    println("blocks_x,cochran_q_sec")
    cqOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    }

    phase("r18") {
    import graft.probes.{Probes => P18}
    val ev18 = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("value").isNotNull && col("event_id").isNotNull &&
        col("user_id").isNotNull)
      .select("user_id", "event_id", "value", "ts")
    // krippendorffAlphaWeighted at the maxLabels BOUNDARY: fixed
    // ratings, V = 64/128/256 — the |V|² pair frame is the op's one
    // quadratic surface; its cost must stay parameter-sized (invisible
    // next to the corpus-sized coincidence scan) right up to the
    // guard. The V = maxLabels+1 loud raise is spec-pinned
    // (ProbesSpec "krippendorffAlpha*: maxLabels").
    def ratings18(levels: Int): DataFrame = ev18.select(
      (col("user_id") % 2000).as("item"),
      (col("event_id") % levels).cast("double").as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
    def kawJob18(d: DataFrame): Unit =
      noop(P18.krippendorffAlphaWeighted(col("item"), col("v"),
        "ordinal", exactOrder = false)(d))
    locally { val d1 = ratings18(64).localCheckpoint()
      kawJob18(d1); d1.unpersist() }
    locally {
      val lr = for (lv <- Seq(64, 128, 256)) yield {
        val d = ratings18(lv).localCheckpoint()
        val t = median3(kawJob18(d)); d.unpersist()
        (lv, t)
      }
      println("labels,krippendorff_ordinal_sec")
      lr.foreach { case (lv, t) => println(f"$lv,$t%.2f") }
    }
    // dunnTest: rows ×1/×2/×4 over disjoint groups — must track the
    // kruskalWallis pooled-rank-window cost (its pair frame is
    // k²-tiny); same frame shape as the r17b KW cell
    def kw18(k: Int): DataFrame =
      (0 until k).map(i => ev18.select(
        ((col("user_id") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("event_id") % 3).as("v"), col("value").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def dunnJob(d: DataFrame): Unit =
      noop(P18.dunnTest(col("v"), col("x"), Seq("g"))(d))
    locally { val d1 = kw18(1).localCheckpoint(); dunnJob(d1); d1.unpersist() }
    val dunnOut = for (k <- Seq(1, 2, 4)) yield {
      val d = kw18(k).localCheckpoint()
      val t = median3(dunnJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,dunn_posthoc_sec")
    dunnOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // jonckheereTerpstra: rows ×1/×2/×4 at k = 3 (must track the
    // (k−1)×-replicated rank windows, i.e. linear), then the k sweep
    // 3/6/12 at ×1 — the documented (k−1)× replication bill must show
    // as roughly proportional growth, not hidden
    def jtJob(d: DataFrame): Unit =
      noop(P18.jonckheereTerpstra(col("v"), col("x"), Seq("g"))(d))
    locally { val d1 = kw18(1).localCheckpoint(); jtJob(d1); d1.unpersist() }
    val jtOut = for (k <- Seq(1, 2, 4)) yield {
      val d = kw18(k).localCheckpoint()
      val t = median3(jtJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,jonckheere_terpstra_sec")
    jtOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    locally {
      val kr = for (kk <- Seq(3, 6, 12)) yield {
        val d = ev18.select((col("user_id") % 64).as("g"),
          (col("event_id") % kk).as("v"), col("value").as("x"))
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint()
        val t = median3(jtJob(d)); d.unpersist()
        (kk, t)
      }
      println("variants_k,jonckheere_terpstra_sec")
      kr.foreach { case (kk, t) => println(f"$kk,$t%.2f") }
    }
    // kaplanMeier: subjects ×1/×2/×4 over disjoint groups with a
    // FIXED day grid (distinct times per group bounded by design) —
    // must track the (group, time) cells hash-agg, the fold being
    // grid-sized
    def km18(k: Int): DataFrame =
      (0 until k).map(i => ev18.select(
        ((col("user_id") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("event_id") % 30).cast("long").as("t"),
        (col("event_id") % 7 === 0).as("c")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def kmJob(d: DataFrame): Unit =
      noop(graft.ops.WindowOps.kaplanMeier(col("t"), col("c"),
        Seq("g"))(d))
    locally { val d1 = km18(1).localCheckpoint(); kmJob(d1); d1.unpersist() }
    val kmOut = for (k <- Seq(1, 2, 4)) yield {
      val d = km18(k).localCheckpoint()
      val t = median3(kmJob(d)); d.unpersist()
      (k, t)
    }
    println("subjects_x,kaplan_meier_sec")
    kmOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // logRankTest: same subjects frame + a side split — the KM cost
    // class plus one more window pass; must track the cells hash-agg
    def lrJob(d: DataFrame): Unit =
      noop(P18.logRankTest(col("t") % 2 === 0, col("t"), col("c"),
        Seq("g"))(d))
    locally { val d1 = km18(1).localCheckpoint(); lrJob(d1); d1.unpersist() }
    val lrOut = for (k <- Seq(1, 2, 4)) yield {
      val d = km18(k).localCheckpoint()
      val t = median3(lrJob(d)); d.unpersist()
      (k, t)
    }
    println("subjects_x,logrank_test_sec")
    lrOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // rmst: the kaplanMeier class plus one lag window over the grid
    def rmJob(d: DataFrame): Unit =
      noop(graft.ops.WindowOps.rmst(col("t"), col("c"), tau = 21.0,
        Seq("g"))(d))
    locally { val d1 = km18(1).localCheckpoint(); rmJob(d1); d1.unpersist() }
    val rmOut = for (k <- Seq(1, 2, 4)) yield {
      val d = km18(k).localCheckpoint()
      val t = median3(rmJob(d)); d.unpersist()
      (k, t)
    }
    println("subjects_x,rmst_sec")
    rmOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // windowedAnovaGate batch path: rows ×1/×2/×4 — ONE stateful-agg
    // shape (3 counters × 3 declared variants + window), fixed-width
    // state, must track the scan like the r17b value-drift cell
    def gate18(k: Int): DataFrame =
      (0 until k).map(_ => ev18.select(col("ts"),
        (col("user_id") % 3).as("v"), col("value").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def agJob(d: DataFrame): Unit =
      noop(graft.streaming.Streaming.windowedAnovaGate(d, col("v"),
        col("x"), Seq("0", "1", "2"), windowLength = "6 hours"))
    locally { val d1 = gate18(1).localCheckpoint(); agJob(d1); d1.unpersist() }
    val agOut = for (k <- Seq(1, 2, 4)) yield {
      val d = gate18(k).localCheckpoint()
      val t = median3(agJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,anova_gate_sec")
    agOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // friedmanConover: blocks ×1/×2/×4 — the friedmanTest cost class
    // (the same shared rank frames) plus the k²-tiny pair join
    def fcBlocks(k: Int): DataFrame =
      (0 until k).map(i => ev18
        .groupBy(((col("user_id") % 2000) + lit(i.toLong * 1_000_000L))
          .as("b"), (col("event_id") % 3).as("t"))
        .agg(max(col("value")).as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def fcJob(d: DataFrame): Unit =
      noop(P18.friedmanConover("b", "t", col("x"))(d))
    locally { val d1 = fcBlocks(1).localCheckpoint(); fcJob(d1); d1.unpersist() }
    val fcOut = for (k <- Seq(1, 2, 4)) yield {
      val d = fcBlocks(k).localCheckpoint()
      val t = median3(fcJob(d)); d.unpersist()
      (k, t)
    }
    println("blocks_x,friedman_posthoc_sec")
    fcOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    }

    phase("r19") {
    import graft.probes.{Probes => P19}
    val ev19 = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("value").isNotNull && col("event_id").isNotNull &&
        col("user_id").isNotNull)
      .select("user_id", "event_id", "value", "ts")
    // mannKendall: rows ×1/×2/×4 over disjoint FIXED-SIZE groups —
    // the guarded pair join is per-group quadratic, so with group
    // size pinned the total must scale linearly in the group count
    // (the documented bounded-slice contract; an oversized group
    // raises instead of running)
    def mk19(k: Int): DataFrame =
      (0 until k).map(i => ev19.select(
        ((col("user_id") % 256) + lit(i.toLong * 1_000L)).as("g"),
        col("event_id").as("i"), col("event_id").as("t"),
        col("value").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def mkJob(d: DataFrame): Unit =
      noop(P19.mannKendall("g", "i", "t", "x")(d))
    locally { val d1 = mk19(1).localCheckpoint(); mkJob(d1); d1.unpersist() }
    val mkOut = for (k <- Seq(1, 2, 4)) yield {
      val d = mk19(k).localCheckpoint()
      val t = median3(mkJob(d)); d.unpersist()
      (k, t)
    }
    println("groups_x,mann_kendall_sec")
    mkOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // theilSenCI: the same guarded pair frame plus one rank window
    // and the tie-mass hash-aggs — must track the mannKendall cell
    def tscJob(d: DataFrame): Unit =
      noop(P19.theilSenCI("g", "i", "t", "x")(d))
    locally { val d1 = mk19(1).localCheckpoint(); tscJob(d1); d1.unpersist() }
    val tscOut = for (k <- Seq(1, 2, 4)) yield {
      val d = mk19(k).localCheckpoint()
      val t = median3(tscJob(d)); d.unpersist()
      (k, t)
    }
    println("groups_x,theil_sen_ci_sec")
    tscOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // seasonalMannKendall: the mannKendall dag keyed one level deeper
    // (group, season) — same linear shape, smaller per-slice pairs
    def smk19(k: Int): DataFrame =
      (0 until k).map(i => ev19.select(
        ((col("user_id") % 256) + lit(i.toLong * 1_000L)).as("g"),
        (col("event_id") % 4).as("sea"),
        col("event_id").as("i"), col("event_id").as("t"),
        col("value").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def smkJob(d: DataFrame): Unit =
      noop(P19.seasonalMannKendall("g", "sea", "i", "t", "x")(d))
    locally { val d1 = smk19(1).localCheckpoint(); smkJob(d1); d1.unpersist() }
    val smkOut = for (k <- Seq(1, 2, 4)) yield {
      val d = smk19(k).localCheckpoint()
      val t = median3(smkJob(d)); d.unpersist()
      (k, t)
    }
    println("groups_x,seasonal_mann_kendall_sec")
    smkOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // logRankK: subjects ×1/×2/×4 on the r18 survival frame shape
    // with a 4-arm variant and a FIXED 30-day grid — must track the
    // (group, variant, time) cells hash-agg; the |T|·k grid is
    // cells-sized, never corpus-sized
    def lrk19(k: Int, arms: Int): DataFrame =
      (0 until k).map(i => ev19.select(
        ((col("user_id") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("user_id") % arms).as("v"),
        (col("event_id") % 30).cast("long").as("t"),
        (col("event_id") % 7 === 0).as("c")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def lrkJob(d: DataFrame): Unit =
      noop(P19.logRankK(col("v"), col("t"), col("c"),
        Seq("g"))(d)) // the stored df-table gate, as the query ships
    locally { val d1 = lrk19(1, 4).localCheckpoint()
      lrkJob(d1); d1.unpersist() }
    val lrkOut = for (k <- Seq(1, 2, 4)) yield {
      val d = lrk19(k, 4).localCheckpoint()
      val t = median3(lrkJob(d)); d.unpersist()
      (k, t)
    }
    println("subjects_x,logrank_k_sec")
    lrkOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // the k sweep 4/8/16 at ×1: the per-variant O−E frame (the grid)
    // grows as |T|·k — cells-sized growth on a corpus-pinned input,
    // so the time must stay nearly flat (the corpus scan dominates)
    locally {
      val kr = for (arms <- Seq(4, 8, 16)) yield {
        val d = lrk19(1, arms).localCheckpoint()
        val t = median3(lrkJob(d)); d.unpersist()
        (arms, t)
      }
      println("variants_k,logrank_k_sec")
      kr.foreach { case (arms, t) => println(f"$arms,$t%.2f") }
    }
    // gehanBreslow: the logRankTest dag with weighted terms — same
    // subjects frame, must track the two-sample cell (shared
    // terms-frame definition; the weights are free multiplies)
    def gbJob(d: DataFrame): Unit =
      noop(P19.gehanBreslowTest(col("t") % 2 === 0, col("t"), col("c"),
        Seq("g"))(d))
    locally { val d1 = lrk19(1, 4).localCheckpoint()
      gbJob(d1); d1.unpersist() }
    val gbOut = for (k <- Seq(1, 2, 4)) yield {
      val d = lrk19(k, 4).localCheckpoint()
      val t = median3(gbJob(d)); d.unpersist()
      (k, t)
    }
    println("subjects_x,logrank_gehan_sec")
    gbOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // windowedHazardGate batch path: rows ×1/×2/×4 — ONE stateful-agg
    // shape (2 counters × 6 buckets + 2, fixed-width state), must
    // track the scan like the r18 anova-gate cell
    def hz19(k: Int): DataFrame =
      (0 until k).map(_ => ev19.select(col("ts"),
        col("value").as("dur"), (col("event_id") % 5 === 0).as("cen")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def hzJob(d: DataFrame): Unit =
      noop(graft.streaming.Streaming.windowedHazardGate(d, col("dur"),
        col("cen"),
        // the ONE shared reference vector (QueriesTemporal.hazardRef)
        // — the cell must measure the configuration the query ships
        refHazard = QueriesTemporal.hazardRef,
        bucketWidth = 5.0, windowLength = "6 hours"))
    locally { val d1 = hz19(1).localCheckpoint(); hzJob(d1); d1.unpersist() }
    val hzOut = for (k <- Seq(1, 2, 4)) yield {
      val d = hz19(k).localCheckpoint()
      val t = median3(hzJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,hazard_gate_sec")
    hzOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // pageTest: blocks ×1/×2/×4 — the friedmanTest cost class (the
    // same shared rank frames) plus one k-sized ordered fold
    def pgBlocks(k: Int): DataFrame =
      (0 until k).map(i => ev19
        .groupBy(((col("user_id") % 2000) + lit(i.toLong * 1_000_000L))
          .as("b"), (col("event_id") % 3).as("t"))
        .agg(max(col("value")).as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def pgJob(d: DataFrame): Unit =
      noop(P19.pageTest("b", "t", col("x"))(d))
    locally { val d1 = pgBlocks(1).localCheckpoint(); pgJob(d1); d1.unpersist() }
    val pgOut = for (k <- Seq(1, 2, 4)) yield {
      val d = pgBlocks(k).localCheckpoint()
      val t = median3(pgJob(d)); d.unpersist()
      (k, t)
    }
    println("blocks_x,page_trend_sec")
    pgOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    // brunnerMunzel: rows ×1/×2/×4 over disjoint groups — must track
    // 2× the mannWhitneyU rank-window class (pooled + within-side)
    def bm19(k: Int): DataFrame =
      (0 until k).map(i => ev19.select(
        ((col("user_id") % 64) + lit(i.toLong * 1_000L)).as("g"),
        (col("event_id") % 2 === 0).as("a"), col("value").as("x")))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
    def bmJob(d: DataFrame): Unit =
      noop(P19.brunnerMunzel(col("a"), col("x"), Seq("g"))(d))
    locally { val d1 = bm19(1).localCheckpoint(); bmJob(d1); d1.unpersist() }
    val bmOut = for (k <- Seq(1, 2, 4)) yield {
      val d = bm19(k).localCheckpoint()
      val t = median3(bmJob(d)); d.unpersist()
      (k, t)
    }
    println("rows_x,brunner_munzel_sec")
    bmOut.foreach { case (k, t) => println(f"$k,$t%.2f") }
    }
    spark.stop()
  }
}
