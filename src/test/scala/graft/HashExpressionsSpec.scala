package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}

/** Bit-parity of the native hash kernels against their HOF specification
  * forms, over generated texts plus the edge cases (empty text, single
  * token, shorter than one shingle/window). */
class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "the", "of")
    val gen = (1 to 50).map(i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")))
    val edges = Seq((100L, ""), (101L, "one"), (102L, "two words"),
      (103L, "tiny"), (104L, "exactly eight"),
      (105L, "héllo wörld ünïcode tèxt ça va plus encore du texte"))
    (gen ++ edges).toDF("id", "text")
  }

  test("native minhash signature equals the HOF form") {
    val diffs = corpus.select(
      Dedup.minhashSignature($"text", 8, 3).as("n"),
      Dedup.minhashSignatureHof($"text", 8, 3).as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
  }

  test("native minhash bigram signature equals the HOF form") {
    val diffs = corpus.select(
      Dedup.minhashSignature($"text", 8, 2).as("n"),
      Dedup.minhashSignatureHof($"text", 8, 2).as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
  }

  test("native OPH minhash equals the HOF form at several widths") {
    for (k <- Seq(4, 8, 16, 32)) {
      val diffs = corpus.select(
        Dedup.minhashSignatureOph($"text", k, 3).as("n"),
        Dedup.minhashSignatureOphHof($"text", k, 3).as("h"))
        .filter($"n" =!= $"h").count()
      assert(diffs === 0L, s"OPH kernel/HOF mismatch at k=$k")
    }
  }

  test("OPH densification: no sentinel slots once any shingle exists; empty stays all-sentinel") {
    val k = 16
    val sigs = corpus.select($"text",
      Dedup.minhashSignatureOph($"text", k, 3).as("s"))
    val nShingles = size(TextOps.shingles($"text", 3))
    // docs with >= 1 shingle: every slot densified to a real 32-bit value
    assert(sigs.filter(nShingles > 0)
      .filter(array_contains($"s", Long.MaxValue)).count() === 0L)
    // shingle-free docs keep the sentinel signature (same contract as
    // the classic kernel)
    assert(sigs.filter(nShingles === 0)
      .filter(!array_contains($"s", Long.MaxValue)).count() === 0L)
    // and all slot values are 32-bit words
    assert(sigs.filter(nShingles > 0)
      .select(explode($"s").as("v"))
      .filter($"v" < 0L || $"v" > 0xffffffffL).count() === 0L)
  }

  test("OPH signatures estimate Jaccard: identical docs collide, disjoint docs do not") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq((1L, a), (2L, a), (3L, "uno dos tres cuatro cinco seis"))
      .toDF("id", "text")
    val sigs = df.select($"id",
      Dedup.minhashSignatureOph($"text", 16, 3).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("native shingles equal the HOF form incl. order and duplicates") {
    for (n <- Seq(1, 2, 3)) {
      val diffs = corpus.select(
        TextOps.shingles($"text", n).as("k"),
        TextOps.shinglesHof($"text", n).as("h"))
        .filter($"k" =!= $"h").count()
      assert(diffs === 0L, s"shingle kernel/HOF mismatch at n=$n")
    }
  }

  test("non-distinct shingles keep every window in position order") {
    import graft.functions.GraftFunctions
    // HOF spec: plain windows, no distinct pass
    def windowsHof(text: org.apache.spark.sql.Column, n: Int) =
      GraftFunctions.bind(TextOps.tokens(text)) { ts =>
        when(size(ts) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(ts) - (n - 1)),
            i => array_join(slice(ts, i, lit(n)), " ")))
      }
    for (n <- Seq(1, 2, 3)) {
      val diffs = corpus.select(
        GraftFunctions.shingleStrings(
          TextOps.tokens($"text"), n, distinct = false).as("k"),
        windowsHof($"text", n).as("h"))
        .filter($"k" =!= $"h").count()
      assert(diffs === 0L, s"non-distinct shingle mismatch at n=$n")
    }
  }

  test("native gram structs equal the HOF form across all widths incl. unicode and empties") {
    import graft.functions.GraftFunctions
    val ns = Seq(2, 3, 4, 5, 6, 7, 8, 9, 10)
    val diffs = corpus.select(
      GraftFunctions.gramStructs(TextOps.tokens($"text"), ns, Seq(2, 3, 4)).as("n"),
      TextOps.gramStructsHof(TextOps.tokens($"text"), ns, Seq(2, 3, 4)).as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
  }

  test("native linear text score equals the HOF form incl. empty and unicode") {
    import graft.functions.GraftFunctions
    val uni = Seq("alpha" -> 3L, "the" -> -2L, "x" -> 1L, "hélло" -> 7L)
    val bi = Seq("alpha beta" -> 5L, "of the" -> -4L)
    for ((maxN, weights) <- Seq(1 -> uni, 2 -> (uni ++ bi))) {
      val diffs = corpus.select(
        GraftFunctions.linearTextScore(
          TextOps.tokens($"text"), weights, maxN).as("k"),
        TextOps.linearStatsHof($"text", weights, maxN).as("h"))
        .filter($"k" =!= $"h").count()
      assert(diffs === 0L, s"linear score kernel/HOF mismatch at maxN=$maxN")
    }
    val weights = uni ++ bi
    // empty text = one empty-string unigram, zero bigrams
    val e = corpus.filter($"id" === 100L).select(
      GraftFunctions.linearTextScore(TextOps.tokens($"text"), weights, 2))
      .head().getStruct(0)
    assert(e.getLong(0) === 0L && e.getInt(1) === 1)
    // a weight gram wider than maxN is a construction-time error
    intercept[IllegalArgumentException](
      GraftFunctions.linearTextScore(
        TextOps.tokens($"text"), Seq("a b c" -> 1L), 2))
  }

  test("native simhash equals the HOF form") {
    val diffs = corpus.select(
      Dedup.simhash($"text").as("n"), Dedup.simhashHof($"text").as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
  }

  test("native sign sketch equals the HOF form incl. zeros, negatives, short arrays") {
    import graft.ext.Similarity
    val rnd = new scala.util.Random(7)
    val gen = (1 to 60).map(i => (i.toLong,
      Array.fill(rnd.nextInt(70))((rnd.nextFloat() - 0.5f) * 4f)))
    val edges = Seq(
      (100L, Array.empty[Float]),            // no dims -> sketch 0
      (101L, Array(0f, -0f, Float.NaN)),     // 0 and -0 set bits, NaN not
      (102L, Array.fill(64)(-1f)),           // all-negative full width
      (103L, Array.fill(70)(1f)))            // dims past 64 ignored
    val vecs = (gen ++ edges).toDF("id", "vec")
    for (dim <- Seq(8, 64)) {
      val diffs = vecs.select(
        Similarity.signSketch($"vec", dim).as("n"),
        Similarity.signSketchHof($"vec", dim).as("h"))
        .filter($"n" =!= $"h").count()
      assert(diffs === 0L, s"sign sketch mismatch at dim=$dim")
    }
    // spot-pin the bit semantics: 0 and -0 count positive, NaN does not
    val s = vecs.filter($"id" === 101L)
      .select(Similarity.signSketch($"vec", 4)).head().getLong(0)
    assert(s === 3L)
  }

  test("native wide sign sketch equals the HOF form; word 0 equals the 64-bit kernel") {
    import graft.ext.Similarity
    val rnd = new scala.util.Random(11)
    val gen = (1 to 60).map(i => (i.toLong,
      Array.fill(rnd.nextInt(260))((rnd.nextFloat() - 0.5f) * 4f)))
    val edges = Seq(
      (100L, Array.empty[Float]),             // no dims -> all-zero words
      (101L, Array(0f, -0f, Float.NaN)),      // 0/-0 set bits, NaN not
      (102L, Array.fill(128)(-1f)),           // two full all-negative words
      (103L, Array.fill(200)(1f)),            // non-multiple-of-64 width
      (104L, Array.fill(300)(1f)))            // dims past `dim` ignored
    val vecs = (gen ++ edges).toDF("id", "vec")
    for (dim <- Seq(8, 64, 128, 200, 256)) {
      val diffs = vecs.select(
        Similarity.signSketchWide($"vec", dim).as("n"),
        Similarity.signSketchWideHof($"vec", dim).as("h"))
        .filter(to_json($"n") =!= to_json($"h")).count()
      assert(diffs === 0L, s"wide sign sketch mismatch at dim=$dim")
      // fixed word count regardless of input length: sketches of one
      // dim are always comparable
      val words = vecs.select(Similarity.signSketchWide($"vec", dim).as("s"))
        .select(size($"s")).distinct().as[Int].collect()
      assert(words === Array((dim + 63) / 64))
    }
    // dim <= 64: the single word IS the 64-bit kernel's sketch
    val w0 = vecs.select(
      element_at(Similarity.signSketchWide($"vec", 64), 1).as("w"),
      Similarity.signSketch($"vec", 64).as("s"))
      .filter($"w" =!= $"s").count()
    assert(w0 === 0L)
  }

  test("native pq encode equals the HOF form; ADC score equals the lookup fold") {
    import graft.ext.Similarity
    import graft.functions.GraftFunctions
    val rnd = new scala.util.Random(17)
    val dim = 16
    def vec() = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 4f)
    val centsLocal = (0 until 5).map(_ => vec().map(_.toDouble).toSeq)
    // duplicate the first centroid at the END: every vector ties between
    // positions 0 and 5 — both forms must keep the EARLIER position
    val centsWithTie = centsLocal :+ centsLocal.head
    val vecs = ((1 to 40).map(i => (i.toLong, vec())) ++
      Seq((100L, centsLocal(2).map(_.toFloat).toArray), // exact centroid hit
          (101L, Array.fill(dim)(0f))))                 // all-zero vector
      .toDF("id", "vec")
      .withColumn("cents", typedLit(centsWithTie))
    for (m <- Seq(1, 2, 4, 8)) {
      val diffs = vecs.select(
        GraftFunctions.pqEncode($"vec", $"cents", m).as("n"),
        Similarity.pqEncodeHof($"vec", $"cents", m).as("h"))
        .filter(to_json($"n") =!= to_json($"h")).count()
      assert(diffs === 0L, s"pq encode mismatch at m=$m")
      // tie discipline: the duplicated tail centroid (position 5) must
      // never win against its position-0 twin
      val codes = vecs.select(
        GraftFunctions.pqEncode($"vec", $"cents", m).as("c"))
        .select(explode($"c")).as[Int].collect()
      assert(codes.forall(c => c >= 0 && c < 5))
    }
    // ADC kernel == the explicit HOF lookup fold
    val m = 4
    val lutDf = vecs.select($"id",
      GraftFunctions.pqEncode($"vec", $"cents", m).as("codes"),
      transform(sequence(lit(0), lit(m - 1)), s =>
        transform($"cents", c =>
          aggregate(
            zip_with(
              slice(transform($"vec", _.cast("double")),
                s * (dim / m) + 1, lit(dim / m)),
              slice(c, s * (dim / m) + 1, lit(dim / m)),
              (x, y) => x * y),
            lit(0.0), (a, p) => a + p))).as("lut"))
    val adcDiffs = lutDf.select(
      GraftFunctions.pqAdcScore($"codes", $"lut").as("n"),
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
        acc + element_at(element_at($"lut", s + 1),
          element_at($"codes", s + 1) + 1)).as("h"))
      .filter($"n" =!= $"h").count()
    assert(adcDiffs === 0L)
  }

  test("native perceptual hashes equal the HOF forms over arbitrary bytes") {
    import graft.ext.BinaryOps
    val rnd = new scala.util.Random(19)
    val gen = (1 to 50).map(i => (i.toLong,
      (0 until rnd.nextInt(300)).map(_ => (rnd.nextInt(94) + 33).toChar)
        .mkString))
    val edges = Seq(
      (100L, ""),                         // empty -> 0
      (101L, "x"),                        // single byte
      (102L, "héllo wörld ünïcode ça"),   // multi-byte UTF-8: BYTE samples
      (103L, "a" * 61),                   // uniform: every mean test ties
      (104L, ("az" * 200)))               // alternating gradient
    val blobs = (gen ++ edges).toDF("id", "t")
      .select($"id", BinaryOps.toBlob($"t").as("blob"))
    val diffs = blobs.select(
      BinaryOps.aHash60($"blob").as("na"),
      BinaryOps.aHash60Hof($"blob").as("ha"),
      BinaryOps.dHash60($"blob").as("nd"),
      BinaryOps.dHash60Hof($"blob").as("hd"))
      .filter($"na" =!= $"ha" || $"nd" =!= $"hd").count()
    assert(diffs === 0L)
    // 60-bit budget and the NULL/empty contracts hold on the kernel too
    val r = blobs.agg(max(BinaryOps.aHash60($"blob"))).as[Long].head()
    assert(r < (1L << 60))
    val nulls = Seq(1).toDF("x").select(
      BinaryOps.aHash60(lit(null).cast("binary")).as("n"),
      BinaryOps.aHash60(BinaryOps.toBlob(lit(""))).as("e")).head()
    assert(nulls.isNullAt(0) && nulls.getLong(1) === 0L)
  }

  test("native hamming-words distance equals the HOF form and the dimension count") {
    import graft.ext.Similarity
    val rnd = new scala.util.Random(13)
    val pairs = (1 to 50).map { i =>
      (i.toLong, Array.fill(130)((rnd.nextFloat() - 0.5f) * 4f),
        Array.fill(130)((rnd.nextFloat() - 0.5f) * 4f))
    }.toDF("id", "a", "b")
      .select($"id",
        Similarity.signSketchWide($"a", 128).as("sa"),
        Similarity.signSketchWide($"b", 128).as("sb"),
        $"a", $"b")
    val diffs = pairs.select(
      Similarity.hammingWords($"sa", $"sb").as("n"),
      Similarity.hammingWordsHof($"sa", $"sb").as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
    // the packed popcount sum IS the dimension-wise sign-disagreement
    // count (what the DuckDB oracle computes)
    val dimWise = pairs.select(
      Similarity.hammingWords($"sa", $"sb").as("n"),
      aggregate(sequence(lit(0), lit(127)), lit(0), (acc, d) =>
        acc + when(($"a".getItem(d) >= 0f) =!= ($"b".getItem(d) >= 0f), 1)
          .otherwise(0)).as("d"))
      .filter($"n" =!= $"d").count()
    assert(dimWise === 0L)
    // word-count mismatch is an error, not a silently-small distance
    // (literal inputs constant-fold driver-side, so the kernel's
    // IllegalArgumentException may surface unwrapped)
    val err = intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L))).toDF("x", "y")
        .select(Similarity.hammingWords($"x", $"y")).collect()
    }
    assert(err.getMessage.contains("word counts differ")
      || (err.getCause != null
        && err.getCause.getMessage.contains("word counts differ")))
  }

  test("native winnow fingerprints equal the HOF form") {
    val diffs = corpus.filter(length($"text") > 0).select(
      TextOps.winnowFingerprints($"text", 8, 4).as("n"),
      TextOps.winnowFingerprintsHof($"text", 8, 4).as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
  }

  test("native bpe count equals the HOF form on rank-consistent vocabularies") {
    // the generated corpus is rich in 'the'/'alpha'/'beta' so every
    // merge in the demo table fires somewhere; unicode rows exercise
    // the codepoint (not UTF-16 unit) symbol split
    val diffs = corpus.select(
      TextOps.bpeTokenCount($"text", TextOps.demoBpeMerges).as("n"),
      TextOps.bpeTokenCountHof($"text", TextOps.demoBpeMerges).as("h"))
      .filter($"n" =!= $"h").count()
    assert(diffs === 0L)
    // a deeper chain than the demo table: each rank consumes the
    // previous rank's output symbol
    val chain = Seq("a" -> "l", "al" -> "p", "alp" -> "h", "alph" -> "a")
    val chainDiffs = corpus.select(
      TextOps.bpeTokenCount($"text", chain).as("n"),
      TextOps.bpeTokenCountHof($"text", chain).as("h"))
      .filter($"n" =!= $"h").count()
    assert(chainDiffs === 0L)
  }

  test("native bpe tokenize equals the HOF form; size equals the count kernel") {
    val diffs = corpus.select(
      TextOps.bpeTokenize($"text", TextOps.demoBpeMerges).as("n"),
      TextOps.bpeTokenizeHof($"text", TextOps.demoBpeMerges).as("h"))
      .filter(to_json($"n") =!= to_json($"h")).count()
    assert(diffs === 0L)
    // count and pieces share one merge engine: sizes can never disagree
    val sizeDiffs = corpus.select(
      size(TextOps.bpeTokenize($"text", TextOps.demoBpeMerges))
        .cast("long").as("s"),
      TextOps.bpeTokenCount($"text", TextOps.demoBpeMerges).as("c"))
      .filter($"s" =!= $"c").count()
    assert(sizeDiffs === 0L)
    // marker semantics + full-stream round trip on single-spaced text
    val r = Seq("the cat").toDF("text").select(
      TextOps.bpeTokenize($"text", TextOps.demoBpeMerges).as("ps"),
      TextOps.bpeDetokenize(
        TextOps.bpeTokenize($"text", TextOps.demoBpeMerges)).as("rt"))
      .head()
    assert(r.getSeq[String](0) === Seq("▁the", "▁c", "a", "t"))
    assert(r.getString(1) === "the cat")
    // every single-spaced corpus row round-trips through detokenize
    val rtDiffs = corpus
      .filter(!$"text".contains("  ") && $"text" === ltrim(rtrim($"text")))
      .select($"text", TextOps.bpeDetokenize(
        TextOps.bpeTokenize($"text", TextOps.demoBpeMerges)).as("rt"))
      .filter($"text" =!= $"rt").count()
    assert(rtDiffs === 0L)
  }

  test("native jaccard equals the HOF form incl. empties and duplicates") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("b", "b", "a")), // dup elements -> distinct sets
      (Seq.empty[String], Seq.empty[String]),
      (Seq("x"), Seq.empty[String])
    ).toDF("a", "b")
    val rows = df.select(
      TextOps.jaccard($"a", $"b").as("n"),
      TextOps.jaccardHof($"a", $"b").as("h")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    assert(rows(0).getDouble(0) === 0.5)
    assert(rows(1).getDouble(0) === 1.0)
    assert(rows(2).getDouble(0) === 0.0)
  }

  test("hash-ordered jaccard-at-least decides exactly like jaccard >= tau") {
    // τ as p/q: pairs sharing p·k of q·k distinct tokens sit at Jaccard
    // exactly τ (τ = 0.9 at k = 7 is where an unguarded ceil of the
    // overlap floor overshoots), and one fewer shared token sits just
    // below it; the rest split between the two sides in three ways
    val taus = Seq((0.3, 3, 10), (0.5, 1, 2), (2.0 / 3, 2, 3), (0.7, 7, 10),
      (0.9, 9, 10), (1.0, 1, 1))
    def pair(shared: Int, aOnly: Int, bOnly: Int) = {
      val s = (0 until shared).map(i => s"s$i")
      (s ++ (0 until aOnly).map(i => s"a$i"),
        s ++ (0 until bOnly).map(i => s"b$i"))
    }
    val boundary = for {
      (_, p, q) <- taus; k <- 1 to 8; rest = (q - p) * k
      x <- Seq(0, rest / 2, rest); d <- Seq(0, 1)
    } yield pair(p * k - d, x, rest - x + d)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val random = (1 to 200).map(_ => (
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size))),
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))))
    val edges = Seq(
      (Seq.empty[String], Seq.empty[String]), (Seq("x"), Seq.empty[String]),
      (Seq.empty[String], Seq("x")), (Seq("x"), Seq("x")), (Seq("x"), Seq("y")),
      (Seq("a", "b", "c"), Seq("d", "e")), (vocab, vocab.reverse))
    val df = (boundary ++ random ++ edges).zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
      .select($"i",
        Dedup.hashOrdered(array_distinct($"a")).as("a"),
        Dedup.hashOrdered(array_distinct($"b")).as("b"))
      .cache()
    for ((tau, _, _) <- taus) {
      val rows = df.select($"i",
        TextOps.hashOrderedJaccardAtLeast($"a", $"b", tau).as("k"),
        (TextOps.jaccard($"a", $"b") >= tau).as("j")).collect()
      val diffs = rows.filter(r => r.getBoolean(1) != r.getBoolean(2))
      assert(diffs.isEmpty,
        s"tau=$tau: rows ${diffs.map(_.getInt(0)).mkString(",")} differ")
      assert(rows.count(_.getBoolean(1)) > 0, s"tau=$tau: no positives")
    }
    val at = df.filter($"i" >= boundary.size + random.size)
      .orderBy("i").select(
        TextOps.hashOrderedJaccardAtLeast($"a", $"b", 1.0),
        TextOps.hashOrderedJaccardAtLeast($"a", $"b", 0.3))
      .as[(Boolean, Boolean)].collect().toSeq
    // empty pairs never qualify; identical sets do at every τ
    assert(at === Seq((false, false), (false, false), (false, false),
      (true, true), (false, false), (false, false), (true, true)))
    df.unpersist()
  }

  test("kernels skip null array elements instead of failing") {
    // the public function surface accepts arbitrary array<string>; null
    // elements must contribute nothing, exactly like the HOF forms
    import graft.functions.GraftFunctions
    val df = Seq(1).toDF("i").select(
      array(lit("alpha"), lit(null).cast("string"), lit("beta")).as("withNull"),
      array(lit("alpha"), lit("beta")).as("clean"))
    val r = df.select(
      GraftFunctions.minhashSignature($"withNull", 8).as("mn"),
      GraftFunctions.minhashSignature($"clean", 8).as("mc"),
      GraftFunctions.simhash60($"withNull").as("sn"),
      GraftFunctions.simhash60($"clean").as("sc"),
      GraftFunctions.arrayJaccard($"withNull", $"clean").as("j")).head()
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    assert(r.getLong(2) === r.getLong(3))
    assert(!r.isNullAt(4))
    // the hash-ordered verify sorts a null element where `sort_array`
    // does and decides as the jaccard kernel does, null against null
    // included (the null-bearing pair sits at Jaccard exactly 2/3)
    val ordered = df.select(
      Dedup.hashOrdered($"withNull").as("wn"),
      Dedup.hashOrdered($"clean").as("c"))
    for (tau <- Seq(0.5, 2.0 / 3, 0.7, 1.0); (a, b) <- Seq(
        ($"wn", $"c"), ($"c", $"wn"), ($"wn", $"wn"))) {
      val d = ordered.select(
        GraftFunctions.hashOrderedJaccardAtLeast(a, b, tau),
        GraftFunctions.arrayJaccard(a, b) >= tau).head()
      assert(!d.isNullAt(0) && d.getBoolean(0) === d.getBoolean(1),
        s"tau=$tau: $a vs $b")
    }
  }

  test("shingle-free doc yields the sentinel signature") {
    val sig = Seq("a b").toDF("text") // 2 tokens < shingleSize 3
      .select(Dedup.minhashSignature($"text", 8, 3)).head().getSeq[Long](0)
    assert(sig === Seq.fill(8)(Long.MaxValue))
  }

  test("native md5Prefix32 equals the builtin conv(substring(md5)) form") {
    import graft.functions.GraftFunctions
    // the original column definition every sampler/oracle was built
    // against — the kernel must be bit-identical over unicode, empty
    // strings, and non-string (cast) inputs, with and without salt
    def reference(key: org.apache.spark.sql.Column, salt: String) =
      conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8),
        16, 10).cast("long")
    val df = corpus.select($"id", $"text")
      .withColumn("key", concat($"text", lit("_"), $"id"))
    for (salt <- Seq("", "bs", "pt", "salt|3|")) {
      val diffs = df.select(
        GraftFunctions.md5Prefix32($"key", salt).as("n"),
        reference($"key", salt).as("h"))
        .filter($"n" =!= $"h" || $"n".isNull =!= $"h".isNull).count()
      assert(diffs === 0L, s"md5Prefix32 kernel mismatch at salt=$salt")
    }
    // long (non-string) input takes the cast path; null stays null
    val r = Seq((1L, Option(42L)), (2L, None))
      .toDF("i", "k")
      .select(GraftFunctions.md5Prefix32($"k", "s").as("n"),
        reference($"k", "s").as("h"))
      .collect()
    assert(r(0).getLong(0) === r(0).getLong(1))
    assert(r(1).isNullAt(0) && r(1).isNullAt(1))
  }
}
