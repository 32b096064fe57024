package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.ops.Ops

/** Near-dup recall checks: the shipped LSH-candidate paths are validated
  * against the exact brute-force baselines (which exist only for this —
  * never ship an all-pairs plan against a corpus), plus the stratified
  * hash sampler. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"), // near-dup of 1
    (3L, "completely different words live here today yes", "en"),
    (4L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (5L, "unrelated text about spark and catalyst planning", "en")
  ).toDF("doc_id", "text", "lang")

  test("LSH near-dup finds what brute force finds on dup-heavy corpora") {
    val brute = Dedup.ngramJaccardPairs("doc_id", "text", "lang",
      threshold = 0.5, shingleSize = 2)(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDuplicates("doc_id", "text",
      threshold = 0.5, numHashes = 8, bands = 4, shingleSize = 2)(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force is exact recall; LSH may miss (banding) but never adds
    assert(lsh.subsetOf(brute))
    // exact duplicates share every minhash band -> always recalled
    assert(lsh.contains((1L, 4L)))
    assert(brute === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("lshRecallEval: exact truth, subset invariant, band-superset monotonicity") {
    val rep = Dedup.lshRecallEval("doc_id", "text", threshold = 0.5,
      configs = Seq((8, 4), (16, 8)), shingleSize = 2)(docs)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // truth side == the blocked brute-force baseline (single block here)
    val brute = Dedup.ngramJaccardPairs("doc_id", "text", "lang",
      threshold = 0.5, shingleSize = 2)(docs).count()
    rep.values.foreach { case (truth, cands, ver, recall, prec) =>
      assert(truth === brute)
      // verify makes emitted pairs a subset of truth; candidates ⊇ verified
      assert(ver <= truth && ver <= cands)
      assert(recall <= 1.0 && prec <= 1.0)
      assert(recall === ver.toDouble / truth)
    }
    // sig16[0..7] == sig8[0..7], so (16,8)'s bands ⊇ (8,4)'s bands and
    // its candidate/verified sets are supersets — monotone by design
    assert(rep((16, 8))._2 >= rep((8, 4))._2)
    assert(rep((16, 8))._3 >= rep((8, 4))._3)
    // exact dup (1,4) survives every geometry: recall of the dup-heavy
    // fixture is 1.0 at both operating points
    assert(rep((8, 4))._4 === 1.0)
  }

  test("LSH embedding near-dup agrees with brute force within buckets") {
    val vecs = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(1.0f)),              // exact dup of 1
      (3L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)),
      (4L, Array.fill(64)(-1.0f))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDuplicatesBrute("vec_id", "embedding", 0.9)(vecs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDuplicates("vec_id", "embedding", 0.9,
      planes = 6, dim = 64)(vecs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.contains((1L, 2L))) // identical vectors share every bucket
  }

  test("exact keeps a real row when a group's tie-breaks are all NULL") {
    // min_by alone would fabricate an all-NULL row for group "b" and
    // silently drop its data
    val df = Seq(("a", Some(2L), "keepA2"), ("a", Some(1L), "keepA1"),
      ("b", None, "keepB1"), ("b", None, "keepB2"))
      .toDF("k", "tb", "payload")
    val out = Dedup.exact(Seq("k"), "tb")(df)
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(out("a") === Some("keepA1")) // non-null min wins as before
    // all-NULL group: a REAL row survives (deterministic JSON tie-break)
    assert(out("b").isDefined && out("b").get.startsWith("keepB"))
  }

  test("lshBucket rejects vectors whose length differs from dim") {
    val bad = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Dedup.embeddingNearDuplicates("vec_id", "embedding", 0.5,
        planes = 6, dim = 64)(bad).collect())
    assert(e.getMessage != null || e.getCause != null) // fails, not bucket 0
  }

  test("lshBucket raises an attributable error for a NULL vector") {
    val withNull = Seq((1L, Some(Array.fill(4)(1.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Dedup.embeddingNearDuplicates("vec_id", "embedding", 0.5,
        planes = 2, dim = 4)(withNull).collect())
    // the message must name the null vector, not a misleading dim
    // mismatch reading "got null"
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null embedding vector")),
      s"unexpected error chain: ${messages(e).mkString(" | ")}")
  }

  test("winnowOverlapPairs finds shared passages that whole-doc Jaccard misses") {
    val passage = "the exact same long copied passage appears in here"
    val corpus = Seq(
      (1L, s"alpha beta gamma delta $passage epsilon zeta eta theta"),
      (2L, s"one two three four five $passage six seven eight nine ten"),
      (3L, "entirely unrelated words that overlap with nothing above zzz")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs("doc_id", "text", k = 8, w = 4,
      minShared = 3, maxBucket = 64)(corpus)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // docs 1 and 2 share only the passage — low whole-doc similarity,
    // but winnowing guarantees shared fingerprints for substrings >= k+w-1
    assert(pairs === Set((1L, 2L)))
  }

  test("containmentPairs catches a full quote the symmetric threshold misses") {
    val big = (1 to 30).map(i => s"t$i").mkString(" ") // 23 distinct 8-grams
    val quote = (5 to 16).map(i => s"t$i").mkString(" ") // 5 grams, all in big
    val corpus = Seq(
      (1L, big), (2L, quote),
      (3L, "entirely unrelated words that overlap with nothing above zzz"),
      (4L, "too short")                                // gram-less: no pairs
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs("doc_id", "text", n = 8,
      threshold = 0.5)(corpus).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) === (1L, 2L))
    // quote is WHOLLY contained: all 5 of its grams shared
    assert(r.getAs[Long]("shared_grams") === 5L)
    assert(r.getAs[Double]("containment_b") === 1.0)
    assert(r.getAs[Double]("containment_a") === 5.0 / 23)
    // the asymmetry claim: Jaccard for this pair is 5/23 < 0.5, so a
    // symmetric 0.5-threshold near-dup pass would never flag it
    assert(5.0 / 23 < 0.5)
  }

  test("incrementalByFingerprint drops seen content then dedups in-batch") {
    // index holds the fingerprint of doc 1's content; the batch carries
    // a copy of it (6), an internal dup pair (7,8), and fresh content (9)
    val seen = docs.filter($"doc_id" === 1L)
      .select(graft.ext.TextOps.fingerprint($"text").as("fp"))
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog", "en"), // seen
      (7L, "brand new never seen before text", "en"),
      (8L, "brand new never seen before text", "en"), // in-batch dup of 7
      (9L, "another genuinely fresh document", "en")
    ).toDF("doc_id", "text", "lang")
    val kept = Dedup.incrementalByFingerprint("text", "doc_id", seen)(batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(7L, 9L))
    // a multi-column index frame would silently join on the wrong column
    intercept[IllegalArgumentException](
      Dedup.incrementalByFingerprint("text", "doc_id", docs)(batch))
  }

  test("bloom-prefiltered incremental dedup is result-identical to the anti-join") {
    val seen = docs.filter($"doc_id" === 1L)
      .select(graft.ext.TextOps.fingerprint($"text").as("fp"))
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog", "en"), // seen
      (7L, "brand new never seen before text", "en"),
      (8L, "brand new never seen before text", "en"), // in-batch dup of 7
      (9L, "another genuinely fresh document", "en")
    ).toDF("doc_id", "text", "lang")
    val kept = Dedup.incrementalByFingerprintBloom("text", "doc_id", seen,
      expectedItems = 1000L)(batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(7L, 9L))
    // empty index: the sketch aggregate yields NULL, everything is new
    // modulo in-batch dedup — must not NPE or drop the batch
    val none = seen.filter(lit(false))
    val keptEmpty = Dedup.incrementalByFingerprintBloom(
      "text", "doc_id", none)(batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptEmpty === Seq(6L, 7L, 9L))
    // saturation honesty: a deliberately undersized filter (expected 2,
    // fed 1 real entry, probed with 4) can only ADD maybes — the
    // anti-join still decides, so the result cannot change
    val keptTiny = Dedup.incrementalByFingerprintBloom("text", "doc_id", seen,
      expectedItems = 2L, fpp = 0.5)(batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptTiny === Seq(7L, 9L))
  }

  test("fuzzyKeyPairs catches every one-edit neighbor, nothing farther") {
    val rows = Seq(
      (1L, "jonathan"),
      (2L, "jonathon"),  // substitution of 1
      (3L, "jonathan "), // insertion vs 1 (trailing space)
      (4L, "jonatha"),   // deletion vs 1
      (5L, "jonathan"),  // exact dup of 1 (distance 0)
      (6L, "completely-different"),
      (7L, "jonathXn Y") // distance 2 from 1: must NOT pair with it
    ).toDF("id", "name")
    val pairs = Dedup.fuzzyKeyPairs("id", "name")(rows)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((1L, 4L)) && pairs.contains((1L, 5L)))
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
    assert(!pairs.contains((1L, 7L)))
    // transitive one-edit neighbors of each other also pair (2-4 are
    // distance 2 apart: must NOT appear)
    assert(!pairs.contains((2L, 4L)))
  }

  test("degenerate buckets are capped: pair counts stay bounded") {
    // 100 identical empty-ish docs land in ONE simhash bucket and ONE
    // embedding LSH bucket; uncapped that is 4950 pairs on one reducer —
    // the cap drops the bucket entirely (documented recall trade)
    val giant = (1L to 100L).map(i => (i, "a a a a a a")).toDF("doc_id", "text")
    val sim = Dedup.simhashNearDuplicates("doc_id", "text",
      maxHamming = 60, prefixBits = 12, maxBucket = 64)(giant)
    assert(sim.count() === 0)
    // under the cap the same corpus yields all pairs
    val small = (1L to 10L).map(i => (i, "a a a a a a")).toDF("doc_id", "text")
    val simSmall = Dedup.simhashNearDuplicates("doc_id", "text",
      maxHamming = 60, prefixBits = 12, maxBucket = 64)(small)
    assert(simSmall.count() === 45)

    val giantVecs = (1L to 100L).map(i => (i, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val emb = Dedup.embeddingNearDuplicates("vec_id", "embedding", 0.0,
      planes = 6, dim = 64, maxBucket = 64)(giantVecs)
    assert(emb.count() === 0)
    val smallVecs = (1L to 10L).map(i => (i, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val embSmall = Dedup.embeddingNearDuplicates("vec_id", "embedding", 0.0,
      planes = 6, dim = 64, maxBucket = 64)(smallVecs)
    assert(embSmall.count() === 45)
  }

  test("multi-table LSH recall >= single-table, still subset of brute force") {
    // vectors drawn to straddle hyperplane cuts: near pairs that one
    // plane set splits get an independent chance in the second table
    val rnd = new scala.util.Random(7)
    val base = Array.tabulate(64)(_ => rnd.nextFloat() * 2 - 1)
    val vecs = (1L to 40L).map { i =>
      val eps = Array.tabulate(64)(_ => (rnd.nextFloat() * 2 - 1) * 0.35f)
      (i, base.indices.map(d => base(d) + eps(d)).toArray)
    }.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDuplicatesBrute("vec_id", "embedding", 0.9)(vecs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def lsh(tables: Int) = Dedup.embeddingNearDuplicates("vec_id", "embedding",
      0.9, planes = 6, dim = 64, tables = tables)(vecs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = lsh(1)
    val multi = lsh(2)
    assert(single.subsetOf(brute) && multi.subsetOf(brute))
    assert(single.subsetOf(multi)) // extra tables only ADD candidates
    assert(brute.nonEmpty && multi.size >= single.size)
  }

  test("connectedComponents labels every node with its component minimum") {
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 7L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("id")
    val labels = Dedup.connectedComponents(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    // chain 2-5-9 -> rep 2 (takes two propagation rounds); pair 3-7 -> 3;
    // singleton 1 -> itself
    assert(labels === Map(1L -> 1L, 2L -> 2L, 5L -> 2L, 9L -> 2L,
      3L -> 3L, 7L -> 3L))
  }

  test("connectedComponentsStar handles high-diameter chains and matches label propagation") {
    // 40-node path: diameter 39 — label propagation would need 39 rounds,
    // the star alternation collapses it in O(log n)
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pathNodes = (1L to 40L).toDF("id")
    val starLabels = Dedup.connectedComponentsStar(path, pathNodes)
      .as[(Long, Long)].collect().toMap
    assert(starLabels === (1L to 40L).map(_ -> 1L).toMap)

    // random sparse graph: same labels as the label-propagation variant
    val rnd = new scala.util.Random(5)
    val pairs = (1 to 60).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val nodes = (0L until 50L).toDF("id")
    val star = Dedup.connectedComponentsStar(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    val prop = Dedup.connectedComponents(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
  }

  test("connectedComponents reliable-checkpoint mode matches local mode") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 7L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("id")
    val labels = Dedup.connectedComponents(pairs, nodes,
      checkpointDir = Some(tmp.toString)).as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 2L, 5L -> 2L, 9L -> 2L,
      3L -> 3L, 7L -> 3L))
    // reliable mode actually wrote checkpoint data to the DFS path
    val wrote = java.nio.file.Files.walk(tmp).filter(_.toFile.isFile).count()
    assert(wrote > 0)
  }

  test("clusterDedup keeps exactly one doc per near-dup cluster") {
    val kept = Dedup.clusterDedup("doc_id", "text", threshold = 0.5,
      shingleSize = 2)(docs)
      .select("doc_id").as[Long].collect().toSet
    // 1,2,4 form one cluster (rep 1); 3 and 5 are singletons
    assert(kept === Set(1L, 3L, 5L))
    // the star CC algorithm yields the identical result
    val keptStar = Dedup.clusterDedup("doc_id", "text", threshold = 0.5,
      shingleSize = 2, algorithm = "star")(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(keptStar === kept)
  }

  test("semanticDedup keeps one min-id survivor per embedding cluster") {
    val vecs = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(1.0f)),              // dup of 1
      (3L, Array.tabulate(64)(i => if (i == 0) 0.99f else 1.0f)), // near 1
      (4L, Array.fill(64)(-1.0f)),             // own cluster
      (5L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)) // singleton
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup("vec_id", "embedding", threshold = 0.9,
      planes = 4, dim = 64)(vecs)
      .select("vec_id").as[Long].collect().toSet
    // {1,2,3} collapse via transitive closure even if (2,3) alone were
    // below threshold; 4 and 5 survive untouched
    assert(kept === Set(1L, 4L, 5L))
  }

  test("clusterDedupByQuality keeps the best-quality doc, ties break to min id") {
    // doc 2 gets a long high-quality text; 1 and 4 are its near-dups
    // (identical shingles) with shorter/lower-quality text
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "the dog wakes up to chase the fox across the field of tall grass"
    val frame = Seq(
      (1L, base, "en"),
      (2L, base + " " + base, "en"), // longer -> higher lenScore
      (4L, base, "en"),
      (9L, "totally unrelated words live here in this sentence", "en")
    ).toDF("doc_id", "text", "lang")
    val kept = Dedup.clusterDedupByQuality("doc_id", "text",
      graft.ext.TextOps.qualityScore(col("text")), threshold = 0.5,
      shingleSize = 2)(frame)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds === Set(2L, 9L)) // NOT min-id 1: quality elects 2
    val sizes = kept.select("doc_id", "cluster_size")
      .as[(Long, Long)].collect().toMap
    assert(sizes === Map(2L -> 3L, 9L -> 1L))

    // equal quality everywhere -> tie-break to minimum id
    val tied = Seq(
      (7L, base, "en"), (3L, base, "en"), (8L, base, "en")
    ).toDF("doc_id", "text", "lang")
    val keptTied = Dedup.clusterDedupByQuality("doc_id", "text",
      graft.ext.TextOps.qualityScore(col("text")), threshold = 0.5,
      shingleSize = 2)(tied)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied === Set(3L))
  }

  test("incrementalNearDup dedupes each batch against index ∪ in-batch and the index updates by appending survivors") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight"
    val c = "red green blue yellow purple orange pink cyan"
    // batch 1 against an EMPTY index: only the in-batch leg fires —
    // doc 2 duplicates doc 1 (identical signature, est = 1.0) and the
    // smaller id survives
    val batch1 = Seq((1L, a, "en"), (2L, a, "en"), (3L, b, "en"))
      .toDF("doc_id", "text", "lang")
    val emptyIndex = Seq.empty[(Long, Seq[Long])].toDF("id", "sig")
    val kept1 = Dedup.incrementalNearDup("doc_id", "text", emptyIndex,
      threshold = 0.9)(batch1)
    assert(kept1.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    // index update = append the SURVIVORS' signature rows; batch 2's
    // re-crawl of doc 1's text (id 10) now drops via the index leg,
    // and 12 drops in-batch against 11 — no historical text re-read
    val index = emptyIndex.unionByName(
      Dedup.minhashIndexRows("doc_id", "text")(kept1))
    val batch2 = Seq((10L, a, "en"), (11L, c, "en"), (12L, c, "en"))
      .toDF("doc_id", "text", "lang")
    val kept2 = Dedup.incrementalNearDup("doc_id", "text", index,
      threshold = 0.9)(batch2)
    assert(kept2.select("doc_id").as[Long].collect().toSet === Set(11L))
    // survivors keep every batch column
    assert(kept2.columns.toSeq === Seq("doc_id", "text", "lang"))
    // a malformed index (not (id, sig)) is refused, not silently joined
    intercept[IllegalArgumentException](
      Dedup.incrementalNearDup("doc_id", "text",
        batch1, threshold = 0.9)(batch2))
  }

  test("incrementalNearDup useOph=true: OPH index leg matches classic at equal band geometry") {
    // r13 verdict #3: the O(shingles + k) OPH kernel now reaches the
    // persisted-index path. Parity contract on a fixture-style corpus:
    // identical survivor sets, classic vs OPH, across BOTH legs (index
    // and in-batch), at the same numHashes/bands — different signature
    // families, same dedup decisions on clear duplicates/non-duplicates
    val docs = (0 until 30).map { i =>
      // ten distinct texts, each appearing three times (ids i, i+30, i+60
      // spread across index/batch), long enough to shingle at k = 32
      val t = (0 until 12).map(w => s"tok${i % 10}_$w").mkString(" ")
      (i.toLong, t)
    }
    val history = docs.take(10).toDF("doc_id", "text") // one of each text
    val batch = (docs.drop(10) ++ Seq(
      (90L, "entirely fresh unseen words never indexed before now one"),
      (91L, "another brand new document with disjoint vocabulary tokens")))
      .toDF("doc_id", "text")
    def run(useOph: Boolean): Set[Long] = {
      val idx = Dedup.minhashIndexRows("doc_id", "text",
        numHashes = 32, useOph = useOph)(history)
      Dedup.incrementalNearDup("doc_id", "text", idx,
        threshold = 0.9, numHashes = 32, bands = 8,
        useOph = useOph)(batch)
        .select("doc_id").as[Long].collect().toSet
    }
    val classic = run(useOph = false)
    val oph = run(useOph = true)
    // every re-crawled text drops (both legs fire), both fresh docs stay
    assert(classic === Set(90L, 91L))
    assert(oph === classic)
    // streaming form accepts the same knob and gates against an OPH
    // index: exercised in StreamingSpec; here pin that the OPH index
    // rows are genuinely OPH (differ from classic on the same text)
    val sigC = Dedup.minhashIndexRows("doc_id", "text",
      numHashes = 32)(history).filter(col("id") === 0L)
      .select("sig").as[Seq[Long]].head()
    val sigO = Dedup.minhashIndexRows("doc_id", "text",
      numHashes = 32, useOph = true)(history).filter(col("id") === 0L)
      .select("sig").as[Seq[Long]].head()
    assert(sigC !== sigO)
  }

  test("incrementalEmbeddingDedup dedupes each batch against the int8 index ∪ in-batch and appends survivors") {
    val rnd = new scala.util.Random(5)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
    val a = vec(); val b = vec(); val c = vec()
    def scaled(v: Array[Float], s: Float) = v.map(_ * s)
    // batch 1 against an EMPTY index: only the in-batch leg fires —
    // vector 2 is 2·a (identical int8 codes: the per-vector scale
    // cancels), quantized cosine 1.0, and the smaller id survives
    val batch1 = Seq((1L, a, "x"), (2L, scaled(a, 2f), "x"), (3L, b, "y"))
      .toDF("vec_id", "embedding", "label")
    val emptyIndex = Seq.empty[(Long, Seq[Int])].toDF("id", "codes")
    val kept1 = Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
      emptyIndex, threshold = 0.9)(batch1)
    assert(kept1.select("vec_id").as[Long].collect().toSet === Set(1L, 3L))
    // index update = append the SURVIVORS' code rows; batch 2's
    // re-embed of a (id 10, scaled 0.5 — same codes) drops via the
    // index leg, 12 drops in-batch against 11 — no floats re-read
    val index = emptyIndex.unionByName(
      Dedup.embeddingIndexRows("vec_id", "embedding")(kept1))
    val batch2 = Seq((10L, scaled(a, 0.5f), "x"), (11L, c, "z"),
      (12L, scaled(c, 3f), "z")).toDF("vec_id", "embedding", "label")
    val kept2 = Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
      index, threshold = 0.9)(batch2)
    assert(kept2.select("vec_id").as[Long].collect().toSet === Set(11L))
    // survivors keep every batch column
    assert(kept2.columns.toSeq === Seq("vec_id", "embedding", "label"))
    // a dissimilar batch vector sharing no near-dup survives even when
    // its nearest index neighbor was a DROPPED doc's twin: only stored
    // survivors gate
    // a malformed index (not (id, codes)) is refused
    intercept[IllegalArgumentException](
      Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
        batch1, threshold = 0.9)(batch2))
  }

  test("incrementalEmbeddingDedup at multi-word-era dims (128, 256)") {
    // The embedding leg must match the wide ANN rung it feeds
    // (signSketchWide / hammingTopKWide run at 128-4096 dims): the
    // sign-LSH buckets are projections onto `planes` hyperplanes whose
    // literal weights extend to ANY dim, and the int8 codes/quantized
    // cosine are dimension-agnostic — pin the whole path end-to-end at
    // dim 128 and 256: index-leg drop, in-batch election, novel
    // survivor, across two crawls.
    for (dim <- Seq(128, 256)) {
      val rnd = new scala.util.Random(100 + dim)
      def vec(): Array[Float] = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f)
      val a = vec(); val b = vec(); val c = vec()
      val batch1 = Seq((1L, a), (2L, a.map(_ * 2f)), (3L, b))
        .toDF("vec_id", "embedding")
      val empty = Seq.empty[(Long, Seq[Int])].toDF("id", "codes")
      val kept1 = Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
        empty, threshold = 0.9, dim = dim)(batch1)
      assert(kept1.select("vec_id").as[Long].collect().toSet === Set(1L, 3L),
        s"dim=$dim batch1")
      val index = empty.unionByName(
        Dedup.embeddingIndexRows("vec_id", "embedding")(kept1))
      val batch2 = Seq((10L, a.map(_ * 0.5f)), (11L, c), (12L, c.map(_ * 3f)))
        .toDF("vec_id", "embedding")
      val kept2 = Dedup.incrementalEmbeddingDedup("vec_id", "embedding",
        index, threshold = 0.9, dim = dim)(batch2)
      assert(kept2.select("vec_id").as[Long].collect().toSet === Set(11L),
        s"dim=$dim batch2")
    }
  }

  test("duplicateMap emits one (dup, kept) row per dropped row and partitions with exact") {
    val df = Seq(
      (1L, "k1"), (5L, "k1"), (3L, "k1"),  // kept 1; dups 3, 5
      (2L, "k2"),                          // unique: no map row
      (7L, "k3"), (4L, "k3"))              // kept 4; dup 7
      .toDF("id", "key")
    val map = Dedup.duplicateMap(Seq("key"), "id")(df)
      .orderBy("dup_id").as[(Long, Long)].collect()
    assert(map.toSeq === Seq((3L, 1L), (5L, 1L), (7L, 4L)))
    // survivors (min-id election) and dup_ids partition the input ids
    val kept = Dedup.exact(Seq("key"), "id")(df)
      .select("id").as[Long].collect().toSet
    assert(kept ++ map.map(_._1) === Set(1L, 2L, 3L, 4L, 5L, 7L))
    assert(kept.intersect(map.map(_._1).toSet).isEmpty)
  }

  test("clusterDedupByQuality: NULL and NaN quality lose to any real candidate") {
    // negate(NULL) is NULL, which sorts FIRST in a bare ascending struct
    // — a row missing quality would beat every real candidate; the
    // null-flag struct makes it lose instead, and NaN (the greatest
    // double in Spark's ordering) loses on the negated key
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "the dog wakes up to chase the fox across the field of tall grass"
    val frame = Seq((1L, base), (2L, base), (4L, base)).toDF("doc_id", "text")
    val q = when(col("doc_id") === 1L, lit(null).cast("double"))
      .when(col("doc_id") === 2L, lit(Double.NaN))
      .otherwise(lit(0.5))
    val kept = Dedup.clusterDedupByQuality("doc_id", "text", q,
      threshold = 0.5, shingleSize = 2)(frame)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(4L)) // NOT 1 (NULL) or 2 (NaN), despite smaller ids
  }

  test("clusterSafeSplit routes every near-dup cluster member to one split") {
    // 40 docs in 20 near-dup pairs: (2k, 2k+1) share text; tokens are
    // unique per pair so clusters never bridge
    val frame = (0L until 40L).map { i =>
      val k = i / 2
      (i, s"a$k b$k c$k d$k e$k a$k b$k c$k d$k e$k")
    }.toDF("doc_id", "text")
    val out = Dedup.clusterSafeSplit("doc_id", "text",
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25),
      threshold = 0.5, shingleSize = 2)(frame)
      .select("doc_id", "cluster_rep", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length === 40)
    // every pair shares a cluster rep (the even id) and thus a split
    out.groupBy(_._1 / 2).values.foreach { pair =>
      assert(pair.map(_._2).toSet.size === 1)
      assert(pair.map(_._3).toSet.size === 1)
      assert(pair.map(_._2).head === pair.map(_._1).min)
    }
    // the splits actually disagree across clusters (hash is doing work)
    assert(out.map(_._3).toSet.size > 1)
  }

  test("sampleStratifiedHash applies per-stratum fractions deterministically") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "big" else "none"))
      .toDF("id", "stratum")
    val out = Ops.sampleStratifiedHash("stratum", "id",
      Map("big" -> 0.5))(df)
    val byStratum = out.groupBy("stratum").count().as[(String, Long)]
      .collect().toMap
    assert(!byStratum.contains("none")) // default fraction 0
    assert(byStratum("big") > 800 && byStratum("big") < 1200) // ~0.5 of 2000
    // deterministic: identical rows on re-run
    val again = Ops.sampleStratifiedHash("stratum", "id",
      Map("big" -> 0.5))(df)
    assert(out.select("id").as[Long].collect().sorted.toSeq ===
      again.select("id").as[Long].collect().sorted.toSeq)
  }

  test("fuzzyJoin links a dirty export to its master; candidates only span sides") {
    import graft.ext.Dedup
    val master = Seq((1L, "alice smith"), (2L, "bob jones"), (3L, "carol wu"))
      .toDF("id", "name")
    val dirty = Seq((1L, "alice smith"), (9L, "bob jone"), (3L, "xavier q"))
      .toDF("id", "name") // id 3 shares the id namespace but not the name
    val out = Dedup.fuzzyJoin(dirty, "id", "name", "id", "name",
      minJw = 0.9)(master)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // exact match (1,1) incl. equal ids across namespaces; del-1 (2,9);
    // nothing links the unrelated pair; NO within-side pairs ever
    assert(out === Set((1L, 1L), (2L, 9L)))
  }

  test("phoneticKeyPairs: soundex blocks, JW verify, caps and hygiene") {
    import spark.implicits._
    val names = Seq(
      (1L, "Robert"), (2L, "Rupert"),        // R163 both, jw ≈ 0.69
      (3L, "Smith"), (4L, "Smyth"),          // S530 both, jw high
      (5L, "O'Brien"), (6L, "Obrien"),       // punctuation cleaned away
      (7L, "Jones"),                         // lone block: no pairs
      (8L, "Smith"),                         // identical key: excluded
      (9L, null.asInstanceOf[String]),       // NULL never blocks
      (10L, "123!"))                         // letterless never blocks
      .toDF("id", "name")
    val out = Dedup.phoneticKeyPairs("id", "name", minJw = 0.65)(names)
      .orderBy("id_a", "id_b").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the second "Smith" (8) also links to "Smyth" (4) — only the
    // identical-key (3, 8) pair is excluded
    assert(pairs === Set((1L, 2L), (3L, 4L), (4L, 8L), (5L, 6L)))
    // cleaned spellings of the same name score 1.0 only when the RAW
    // keys differ — (5,6) survives, (3,8) is excluded as an exact dup
    val ob = out.find(r => r.getLong(0) == 5L).get
    assert(ob.getAs[Double]("jw") < 1.0) // O'Brien vs Obrien, raw strings
    // threshold bites: at 0.87 only Smith/Smyth (jw ≈ 0.893) survives —
    // O'Brien/Obrien sits at ≈ 0.864 (case-exact chars: B ≠ b)
    val tight = Dedup.phoneticKeyPairs("id", "name", minJw = 0.87)(names)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tight === Set((3L, 4L), (4L, 8L)))
    // maxBucket drops a degenerate block whole
    val flood = (1L to 70L).map(i => (i, s"Smith$i"))
      .toDF("id", "name") // SMITHn all share a code once digits strip
    assert(Dedup.phoneticKeyPairs("id", "name", minJw = 0.0)(flood)
      .count() == 0L)
  }

  test("setSimilarityJoin: exact pairs, brute-force parity across thresholds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand-built: {a b c d} vs {a b c e} -> j = 3/5; {a b c d} vs
    // {x y z} -> 0; duplicates collapse to sets; empty/null drop
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e", "e")), // dup token: still a 4-set
      (3L, Seq("x", "y", "z")),
      (4L, Seq.empty[String])).toDF("id", "toks")
      .unionByName(Seq((5L, Option.empty[Seq[String]]))
        .toDF("id", "toks"))
    val out = graft.ext.Dedup.setSimilarityJoin("id", "toks", 0.5)(docs)
      .collect()
    assert(out.length === 1 && out(0).getLong(0) === 1L &&
      out(0).getLong(1) === 2L && out(0).getDouble(2) === 0.6)
    // threshold 1.0 keeps only exact set duplicates
    val withDup = docs.unionByName(
      Seq((6L, Seq("c", "a", "b", "d"))).toDF("id", "toks"))
    val ex = graft.ext.Dedup.setSimilarityJoin("id", "toks", 1.0)(withDup)
      .collect()
    assert(ex.length === 1 && ex(0).getLong(0) === 1L &&
      ex(0).getLong(1) === 6L && ex(0).getDouble(2) === 1.0)
    // parity vs the brute-force cross join on a deterministic 60-doc
    // corpus at awkward thresholds (float tau*n near integers)
    val corpus = (1 to 60).map { i =>
      (i.toLong, (0 until 12).map(j => s"t${(i * 7 + j * j) % 40}"))
    }.toDF("id", "toks").withColumn("toks", array_distinct(col("toks")))
    val a = corpus.select(col("id").as("id_a"), col("toks").as("ta"))
    val b = corpus.select(col("id").as("id_b"), col("toks").as("tb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("ov", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("j", col("ov").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("ov")).cast("double"))
    for (tau <- Seq(0.3, 0.5, 1.0 / 3.0, 0.75)) {
      val expected = brute.filter(col("j") >= tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val got = graft.ext.Dedup.setSimilarityJoin("id", "toks", tau)(corpus)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === expected,
        s"tau=$tau: missing=${expected -- got} extra=${got -- expected}")
    }
    intercept[IllegalArgumentException](
      graft.ext.Dedup.setSimilarityJoin("id", "toks", 0.0)(docs))
    // the positional filter CUTS candidates but never the output: same
    // candidate machinery with the filter off is a strict superset
    val base = graft.ext.Dedup.ssjBase("id", "toks", 0.5)(corpus)
    val withPos = graft.ext.Dedup.ssjCandidates(base, 0.5,
      positional = true).as[(Long, Long)].collect().toSet
    val without = graft.ext.Dedup.ssjCandidates(base, 0.5,
      positional = false).as[(Long, Long)].collect().toSet
    assert(withPos.subsetOf(without))
    assert(withPos.size < without.size,
      s"positional filter should prune on this corpus: ${withPos.size} vs ${without.size}")
    // and every true pair survives the pruned candidate set
    val trueAtHalf = brute.filter(col("j") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(trueAtHalf.subsetOf(withPos))
  }

  test("incrementalSetSimilarity: brute-force parity, recall guarantee, cap knob") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // sliding token windows: consecutive ids overlap 7/13 ≈ 0.54 ≥ 0.5
    val all = (1 to 80).map { i =>
      (i.toLong, (0 until 10).map(j => s"t${(i * 3 + j) % 60}"))
    }
    val hist = all.filter(_._1 <= 40).toDF("id", "toks")
    val batch = all.filter(_._1 > 40).toDF("id", "toks")
    val idx = graft.ext.Dedup.ssjIndexRows("id", "toks")(hist)
    assert(idx.columns.toSeq === Seq("id", "toks", "n", "toks_prefix"))
    // the committed-τ_min prefix is a PREFIX of the hash-ordered toks
    // at the contract length n − ⌈τ_min·n⌉ + 1
    idx.collect().foreach { r =>
      val toks = r.getSeq[String](1)
      val pre = r.getSeq[String](3)
      val n = r.getInt(2)
      val want = n - math.ceil(0.5 * n - 1e-9).toInt + 1
      assert(pre === toks.take(math.max(want, 1)))
    }
    val out = graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
      idx, threshold = 0.5)(batch)
    // brute-force truth: drop iff a history match OR a smaller-id
    // in-batch match at true jaccard >= 0.5
    def jac(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    val sets = all.map { case (i, t) => i -> t.toSet }.toMap
    val bIds = all.map(_._1).filter(_ > 40)
    val expected = bIds.filter { i =>
      !(1L to 40L).exists(h => jac(sets(h), sets(i)) >= 0.5) &&
        !bIds.filter(_ < i).exists(o => jac(sets(o), sets(i)) >= 0.5)
    }.toSet
    assert(out.select("id").as[Long].collect().toSet === expected)
    // uncapped = guaranteed recall: every dropped doc has a real match
    val dropped = bIds.toSet -- expected
    assert(dropped.forall { i =>
      (1L to 40L).exists(h => jac(sets(h), sets(i)) >= 0.5) ||
        bIds.filter(_ < i).exists(o => jac(sets(o), sets(i)) >= 0.5)
    })
    // a tiny cap suppresses candidates -> never drops MORE than uncapped
    val capped = graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
      idx, threshold = 0.5, maxBucket = 1)(batch)
      .select("id").as[Long].collect().toSet
    assert(expected.subsetOf(capped))
    // empty/NULL token sets never match and always survive
    val weird = Seq((900L, Seq.empty[String]), (901L, Seq("t3", "t4")))
      .toDF("id", "toks")
      .unionByName(Seq((902L, Option.empty[Seq[String]])).toDF("id", "toks"))
    val wOut = graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
      idx, threshold = 0.5)(weird)
      .select("id").as[Long].collect().toSet
    assert(wOut.contains(900L) && wOut.contains(902L))
    intercept[IllegalArgumentException](
      graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
        idx.select("id", "toks"), threshold = 0.5)(batch))
    intercept[IllegalArgumentException](
      graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
        idx, threshold = 0.0)(batch))
    // τ below the index's committed τ_min fails fast — the stored
    // prefix would not cover the τ-prefix and recall would silently
    // break otherwise
    intercept[IllegalArgumentException](
      graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
        idx, threshold = 0.4)(batch))
    // ...but is served by an index committed at a lower τ_min
    val lowIdx = graft.ext.Dedup.ssjIndexRows("id", "toks",
      tauMin = 0.4)(hist)
    val low = graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
      lowIdx, threshold = 0.5, indexTauMin = 0.4)(batch)
      .select("id").as[Long].collect().toSet
    assert(low === expected)
    // a legacy 3-column (id, toks, n) index still gates identically
    // (prefix derived from toks at query time)
    val legacy = graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
      idx.select("id", "toks", "n"), threshold = 0.5)(batch)
      .select("id").as[Long].collect().toSet
    assert(legacy === expected)
    // ...INCLUDING below the default tauMin: the legacy "prefix" is
    // the full token column, which covers every τ — and the batch
    // side must re-commit its own prefix at the smaller τ (both were
    // broken by an over-eager r16 guard; brute-force parity pins it)
    val legacyLow = graft.ext.Dedup.incrementalSetSimilarity("id",
      "toks", idx.select("id", "toks", "n"), threshold = 0.4)(batch)
      .select("id").as[Long].collect().toSet
    val expected04 = bIds.filter { i =>
      !(1L to 40L).exists(h => jac(sets(h), sets(i)) >= 0.4) &&
        !bIds.filter(_ < i).exists(o => jac(sets(o), sets(i)) >= 0.4)
    }.toSet
    assert(legacyLow === expected04)

    // adversarial fixture for the accumulated overlap bound: forty
    // families of base sets with lengths spread over 4..24, each
    // member its base minus 0-3 random tokens, plus 1-6 of six
    // corpus-wide tokens and 0-2 noise tokens, so frequent tokens
    // crowd the prefixes and the length filter, the per-token
    // positional filter and the per-pair bound all prune
    val rnd = new scala.util.Random(11)
    val adv = (1 to 160).map { i =>
      val fam = i % 40
      val base = (0 until 4 + (fam * 5) % 21).map(j => s"f${fam}_$j")
      val kept = (0 until rnd.nextInt(4)).foldLeft(base) { (t, _) =>
        if (t.size > 1) t.patch(rnd.nextInt(t.size), Nil, 1) else t }
      val noise = Seq.fill(rnd.nextInt(3))(s"r${rnd.nextInt(30)}")
      (i.toLong, kept ++ (0 until 1 + i % 6).map(c => s"c$c") ++ noise)
    }
    val advSets = adv.map { case (i, t) => i -> t.toSet }.toMap
    val advHist = adv.filter(_._1 <= 70).toDF("id", "toks")
    val advBatch = adv.filter(_._1 > 70).toDF("id", "toks")
    val advIds = adv.map(_._1).filter(_ > 70)
    val advIdx = graft.ext.Dedup.ssjIndexRows("id", "toks")(advHist)
    def advTruth(tau: Double): Set[Long] = advIds.filter { i =>
      !(1L to 70L).exists(h => jac(advSets(h), advSets(i)) >= tau) &&
        !advIds.filter(_ < i).exists(o => jac(advSets(o), advSets(i)) >= tau)
    }.toSet
    def survivors(index: org.apache.spark.sql.DataFrame, tau: Double,
        maxBucket: Int = 0): Set[Long] =
      graft.ext.Dedup.incrementalSetSimilarity("id", "toks", index,
        threshold = tau, maxBucket = maxBucket)(advBatch)
        .select("id").as[Long].collect().toSet
    for (tau <- Seq(0.5, 0.7, 0.9)) {
      val truth = advTruth(tau)
      assert(truth.nonEmpty && truth.size < advIds.size,
        s"tau=$tau: the fixture should drop some docs and keep some")
      assert(survivors(advIdx, tau) === truth, s"tau=$tau (tauMin index)")
      assert(survivors(advIdx.select("id", "toks", "n"), tau) === truth,
        s"tau=$tau (legacy index)")
    }
    // a positive cap keeps the per-shared-token rule: a pair is a
    // candidate when some shared tau-prefix token held by at most
    // maxBucket docs on EACH side passes the length and positional
    // filters; recomputed here by brute force over the same
    // hash-ordered arrays the index stores
    val advBatchRows = graft.ext.Dedup.ssjIndexRows("id", "toks")(advBatch)
    def ordered(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      d.select("id", "toks").as[(Long, Seq[String])].collect().toMap
    val (hOrd, bOrd) = (ordered(advIdx), ordered(advBatchRows))
    def cappedTruth(tau: Double, cap: Int): Set[Long] = {
      def pre(t: Seq[String]) = {
        val n = t.size
        t.take(math.max(n - math.ceil(tau * n - 1e-9).toInt + 1, 1))
      }
      def bucketSize(side: Map[Long, Seq[String]]) =
        side.values.flatMap(pre).groupBy(identity).map { case (t, v) =>
          t -> v.size }
      val (hSize, bSize) = (bucketSize(hOrd), bucketSize(bOrd))
      val alphaTau = tau / (1.0 + tau)
      def candidate(a: Seq[String], aSize: Map[String, Int],
          b: Seq[String]): Boolean = {
        val (na, nb) = (a.size, b.size)
        val bPos = pre(b).zipWithIndex.toMap
        pre(a).zipWithIndex.exists { case (t, ia) =>
          bPos.get(t).exists { ib =>
            val (i, j) = (ia + 1, ib + 1)
            aSize(t) <= cap && bSize(t) <= cap &&
              math.min(na, nb).toDouble >= tau * math.max(na, nb) - 1e-9 &&
              math.min(i, j) + math.min(na - i, nb - j) >=
                math.ceil(alphaTau * (na + nb) - 1e-9)
          }
        }
      }
      def hit(a: Seq[String], b: Seq[String]) = jac(a.toSet, b.toSet) >= tau
      advIds.filter { i =>
        !hOrd.exists { case (h, a) =>
          h != i && candidate(a, hSize, bOrd(i)) && hit(a, bOrd(i)) } &&
          !advIds.filter(_ < i).exists(o =>
            candidate(bOrd(o), bSize, bOrd(i)) && hit(bOrd(o), bOrd(i)))
      }.toSet
    }
    for (cap <- Seq(1, 3); tau <- Seq(0.5, 0.7)) {
      val want = cappedTruth(tau, cap)
      assert(advTruth(tau).subsetOf(want))
      assert(survivors(advIdx, tau, maxBucket = cap) === want,
        s"cap=$cap tau=$tau")
    }
  }

  test("incrementalSetSimilarity: candidate stage scans ONLY (id, n, toks_prefix) from parquet") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ssjidx").toString
    val hist = (1 to 30).map { i =>
      (i.toLong, (0 until 10).map(j => s"t${(i * 3 + j) % 60}"))
    }.toDF("id", "toks")
    graft.ext.Dedup.ssjIndexRows("id", "toks")(hist)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val batch = (41 to 50).map { i =>
      (i.toLong, (0 until 10).map(j => s"t${(i * 3 + j) % 60}"))
    }.toDF("id", "toks")
    val out = graft.ext.Dedup.incrementalSetSimilarity("id", "toks",
      stored, threshold = 0.5)(batch)
    out.collect() // materialize so the executed plan is final
    // two parquet scans of the index are expected: the candidate
    // stage's narrow one (no `toks`!) and the verify's (id, toks);
    // the only parquet in this plan IS the index, so every ReadSchema
    // in the physical plan is an index scan
    val plan = out.queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.exists(s =>
      s.contains("toks_prefix") && !s.contains("toks:")),
      s"expected a toks-free candidate scan, got: ${readSchemas.mkString(" | ")}")
    assert(readSchemas.forall(s => !(s.contains("toks:") &&
      s.contains("toks_prefix"))),
      s"no scan should read BOTH columns: ${readSchemas.mkString(" | ")}")
  }

  test("fellegiSunterFit: recovers known m/u/lambda, missing doctrine, determinism, auto") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // synthetic linkage fixture with KNOWN parameters: 25% latent
    // matches, three conditionally independent fields
    val trueM = Seq(0.95, 0.85, 0.75)
    val trueU = Seq(0.05, 0.15, 0.30)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4000).map { i =>
      val isMatch = rnd.nextDouble() < 0.25
      def g(j: Int) =
        rnd.nextDouble() < (if (isMatch) trueM(j) else trueU(j))
      (i.toLong, g(0), g(1), g(2))
    }
    val pairs = rows.toDF("pid", "a0", "a1", "a2")
    val comps = Seq(("f0", col("a0")), ("f1", col("a1")), ("f2", col("a2")))
    val fit = graft.ext.Dedup.fellegiSunterFit(comps, iterations = 40)(pairs)
      .orderBy("comparison").collect()
    assert(fit.map(_.getString(0)).toSeq === Seq("f0", "f1", "f2"))
    fit.zipWithIndex.foreach { case (r, j) =>
      assert(math.abs(r.getAs[Double]("m") - trueM(j)) < 0.05,
        s"m(${r.getString(0)}) = ${r.getAs[Double]("m")} vs ${trueM(j)}")
      assert(math.abs(r.getAs[Double]("u") - trueU(j)) < 0.05,
        s"u(${r.getString(0)}) = ${r.getAs[Double]("u")} vs ${trueU(j)}")
      assert(math.abs(r.getAs[Double]("lambda") - 0.25) < 0.05)
    }
    // an all-missing comparison is unidentifiable: keeps its initial
    // seed, and its factor-1 likelihood leaves the others' fit intact
    val withNull = pairs.withColumn("a3", lit(null).cast("boolean"))
    val fit4 = graft.ext.Dedup.fellegiSunterFit(
      comps :+ ("f3" -> col("a3")), iterations = 40)(withNull)
      .orderBy("comparison").collect()
    val f3 = fit4.find(_.getString(0) == "f3").get
    assert(f3.getAs[Double]("m") === 0.9 && f3.getAs[Double]("u") === 0.1)
    fit4.filter(_.getString(0) != "f3").zip(fit).foreach { case (a, b) =>
      assert(a.getAs[Double]("m") === b.getAs[Double]("m"))
      assert(a.getAs[Double]("u") === b.getAs[Double]("u"))
    }
    // order-pinned folds: the fit is bit-for-bit deterministic across
    // runs (repartitioned input, same result)
    val fit2 = graft.ext.Dedup.fellegiSunterFit(comps, iterations = 40)(
      pairs.repartition(7)).orderBy("comparison").collect()
    fit.zip(fit2).foreach { case (a, b) =>
      assert(a.getAs[Double]("m") === b.getAs[Double]("m") &&
        a.getAs[Double]("u") === b.getAs[Double]("u") &&
        a.getAs[Double]("lambda") === b.getAs[Double]("lambda"))
    }
    // auto: fitted weights feed the scorer; full agreement must outscore
    // full disagreement, and decisions land by the thresholds
    val scored = graft.ext.Dedup.fellegiSunterAuto(comps,
      upperThreshold = 3.0, lowerThreshold = -3.0, iterations = 40)(pairs)
    assert(scored.columns.contains("fs_score") &&
      scored.columns.contains("fs_decision"))
    val byPattern = scored
      .groupBy("a0", "a1", "a2")
      .agg(org.apache.spark.sql.functions.max("fs_score").as("sc"))
      .collect().map(r => ((r.getBoolean(0), r.getBoolean(1),
        r.getBoolean(2)), r.getAs[Double]("sc"))).toMap
    assert(byPattern((true, true, true)) > byPattern((false, false, false)))
    assert(scored.filter(col("a0") && col("a1") && col("a2"))
      .select("fs_decision").distinct().as[String].collect().toSeq ===
      Seq("match"))
    intercept[IllegalArgumentException](graft.ext.Dedup.fellegiSunterFit(
      comps, iterations = 0)(pairs))
    intercept[IllegalArgumentException](graft.ext.Dedup.fellegiSunterFit(
      Seq.fill(9)(("x", col("a0"))).zipWithIndex
        .map { case ((_, c), i) => (s"x$i", c) }, iterations = 5)(pairs))
    intercept[IllegalArgumentException](graft.ext.Dedup.fellegiSunterFit(
      comps, initialM = 0.1, initialU = 0.5)(pairs))
  }

  test("fellegiSunterThresholds: posterior inversion, precision floor on the linkage fixture") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    // closed form by hand at λ = 0.2: s(p) = log2(p/(1−p)) + log2(4)
    val (up, lo) = graft.ext.Dedup.fellegiSunterThresholds(0.2, 0.99, 0.01)
    assert(math.abs(up - (lg2(99.0) + lg2(4.0))) < 1e-12)
    assert(math.abs(lo - (lg2(1.0 / 99.0) + lg2(4.0))) < 1e-12)
    assert(up > lo)
    // the posterior AT each threshold is exactly the target
    def posterior(lambda: Double, s: Double) = {
      val r = math.pow(2.0, s)
      lambda * r / (lambda * r + 1.0 - lambda)
    }
    assert(math.abs(posterior(0.2, up) - 0.99) < 1e-9)
    assert(math.abs(posterior(0.2, lo) - 0.01) < 1e-9)
    // end-to-end: the same synthetic fixture as the fit spec, latent
    // truth KEPT — autoTuned decisions at a 0.95 posterior target must
    // realize at least that precision (conditional independence holds
    // by construction, so the model-based floor is real here)
    val trueM = Seq(0.95, 0.85, 0.75)
    val trueU = Seq(0.05, 0.15, 0.30)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4000).map { i =>
      val isMatch = rnd.nextDouble() < 0.25
      def g(j: Int) =
        rnd.nextDouble() < (if (isMatch) trueM(j) else trueU(j))
      (i.toLong, isMatch, g(0), g(1), g(2))
    }
    val pairs = rows.toDF("pid", "truth", "a0", "a1", "a2")
    val comps = Seq(("f0", col("a0")), ("f1", col("a1")), ("f2", col("a2")))
    val scored = graft.ext.Dedup.fellegiSunterAutoTuned(comps,
      upperPosterior = 0.95, lowerPosterior = 0.05, iterations = 40)(pairs)
      .localCheckpoint()
    val matched = scored.filter(col("fs_decision") === "match")
    val nMatched = matched.count()
    assert(nMatched > 0L)
    val truePos = matched.filter(col("truth")).count()
    assert(truePos.toDouble / nMatched >= 0.95,
      s"realized precision ${truePos.toDouble / nMatched} below the floor")
    // symmetric purity on the non_match side
    val nm = scored.filter(col("fs_decision") === "non_match")
    assert(nm.filter(col("truth")).count().toDouble / nm.count() <= 0.05)
    // guards
    intercept[IllegalArgumentException](
      graft.ext.Dedup.fellegiSunterThresholds(0.0))
    intercept[IllegalArgumentException](
      graft.ext.Dedup.fellegiSunterThresholds(0.2, 0.5, 0.5))
  }

  test("fellegiSunter: log2(m/u) arithmetic, NULL evidence, thresholds, guards") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val pairs = Seq(
      (1L, 2L, Option(true), Option(true)),    // both agree
      (3L, 4L, Option(false), Option(true)),   // first disagrees
      (5L, 6L, Option.empty[Boolean], Option(false))) // first missing
      .toDF("id_a", "id_b", "f1", "f2")
    val out = Dedup.fellegiSunter(Seq(
      ("f1", col("f1"), 0.9, 0.1),    // agree +log2(9), disagree +log2(1/9)
      ("f2", col("f2"), 0.8, 0.2)),   // agree +2, disagree +log2(0.25)
      upperThreshold = 4.0, lowerThreshold = 0.0)(pairs)
      .orderBy("id_a").collect()
      .map(r => (r.getDouble(4), r.getString(5)))
    // mirror the op's exact float expressions: (1.0 - 0.9) is NOT the
    // double 0.1, so the disagreement weights must subtract, not inline
    val w1a = lg2(0.9 / 0.1); val w1d = lg2((1.0 - 0.9) / (1.0 - 0.1))
    val w2a = lg2(0.8 / 0.2); val w2d = lg2((1.0 - 0.8) / (1.0 - 0.2))
    assert(out(0) === ((w1a + w2a, "match")))       // 3.17+2 >= 4
    assert(out(1) === ((w1d + w2a, "non_match")))   // -3.17+2 <= 0
    assert(out(2) === ((0.0 + w2d, "non_match")))   // missing = no evidence
    // a mid-band score lands in 'possible'
    val mid = Dedup.fellegiSunter(Seq(("f", lit(true), 0.6, 0.3)),
      upperThreshold = 2.0, lowerThreshold = 0.5)(
      Seq((1L, 2L)).toDF("id_a", "id_b")).head()
    assert(mid.getString(3) === "possible" &&
      mid.getDouble(2) === lg2(0.6 / 0.3))
    // guards: m must exceed u, probabilities in (0,1), unique names
    intercept[IllegalArgumentException](Dedup.fellegiSunter(
      Seq(("f", col("f1"), 0.1, 0.9)), 1, 0)(pairs))
    intercept[IllegalArgumentException](Dedup.fellegiSunter(
      Seq(("f", col("f1"), 1.0, 0.5)), 1, 0)(pairs))
    intercept[IllegalArgumentException](Dedup.fellegiSunter(
      Seq(("f", col("f1"), 0.9, 0.1), ("f", col("f2"), 0.9, 0.1)),
      1, 0)(pairs))
    intercept[IllegalArgumentException](Dedup.fellegiSunter(
      Seq(("f", col("f1"), 0.9, 0.1)), 0, 1)(pairs))
  }

  test("semantic decontamination: precision 1, cross-side only, per-side cap, anti-join identity") {
    import graft.ext.Similarity
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(41)
    def vec() = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
    val evalVecs = (0L until 20L).map(i => (i, vec()))
    // corpus: 30 paraphrase-near copies of eval vectors (tiny jitter)
    // + 50 unrelated vectors
    val nearRows = (0 until 30).map { i =>
      (100L + i, evalVecs(i % 20)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f))
    }
    val freshRows = (0 until 50).map(i => (200L + i, vec()))
    val corpus = (nearRows ++ freshRows).toDF("vec_id", "v")
    val evalDf = evalVecs.toDF("vec_id", "v")
    val pairs = Dedup.semanticContaminationPairs("vec_id", "v",
      threshold = 0.8, tables = 2)(corpus, evalDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision 1: every emitted pair verifies at >= t against brute force,
    // and pairs only ever span corpus x eval
    val brute = corpus.select(col("vec_id").as("doc_id"), col("v").as("va"))
      .crossJoin(evalDf.select(col("vec_id").as("eval_id"), col("v").as("vb")))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= 0.8)
      .select("doc_id", "eval_id").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (d, e, c) => c >= 0.8 && d >= 100L && e < 20L })
    assert(pairs.map(p => (p._1, p._2)).toSet.subsetOf(brute))
    // 2 tables recover at least what 1 table does (the recall lever)
    val p1 = Dedup.semanticContaminationPairs("vec_id", "v",
      threshold = 0.8, tables = 1)(corpus, evalDf)
      .select("doc_id", "eval_id").as[(Long, Long)].collect().toSet
    assert(p1.subsetOf(pairs.map(p => (p._1, p._2)).toSet))
    // decontaminate == corpus minus flagged doc ids, all columns kept
    val survivors = Dedup.semanticDecontaminate("vec_id", "v",
      threshold = 0.8, tables = 2)(corpus, evalDf)
    assert(survivors.columns.toSeq === corpus.columns.toSeq)
    val flagged = pairs.map(_._1).toSet
    assert(survivors.select("vec_id").as[Long].collect().toSet ===
      corpus.select("vec_id").as[Long].collect().toSet -- flagged)
    // per-SIDE cap: 70 identical corpus vectors collapse into one bucket
    // > maxBucket, so the degenerate bucket contributes nothing and all
    // survive; raising the cap flags them all
    val same = vec()
    val pile = (0 until 70).map(i => (300L + i, same)).toDF("vec_id", "v")
    val oneEval = Seq((0L, same.map(x => x + 0.001f))).toDF("vec_id", "v")
    assert(Dedup.semanticContaminationPairs("vec_id", "v",
      threshold = 0.9)(pile, oneEval).isEmpty)
    assert(Dedup.semanticContaminationPairs("vec_id", "v",
      threshold = 0.9, maxBucket = 128)(pile, oneEval).count() === 70L)
    // r14 ADVICE: the batch ops carry the streaming twin's guard
    // surface — degenerate knobs fail fast, never silently emit zero
    intercept[IllegalArgumentException](Dedup.semanticContaminationPairs(
      "vec_id", "v", threshold = 1.5)(pile, oneEval))
    intercept[IllegalArgumentException](Dedup.semanticContaminationPairs(
      "vec_id", "v", threshold = 0.9, maxBucket = 0)(pile, oneEval))
    intercept[IllegalArgumentException](Dedup.semanticDecontaminate(
      "vec_id", "v", threshold = 0.9, planes = 0)(pile, oneEval))
    intercept[IllegalArgumentException](Dedup.semanticDecontaminate(
      "vec_id", "v", threshold = 0.9, dim = 0)(pile, oneEval))
  }
}
