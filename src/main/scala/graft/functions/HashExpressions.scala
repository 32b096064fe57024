package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for graft's md5-based sketching primitives.
  *
  * The higher-order-function forms (kept as `*Hof` in `graft.ext` and
  * asserted bit-identical in HashExpressionsSpec) pay per-element lambda
  * dispatch, `conv`'s BigInteger hex parsing, and an intermediate array
  * allocation per fold step. Each expression here runs the identical md5
  * arithmetic — so every DuckDB oracle is unchanged — in one tight Java
  * loop per row. Codegen emits a single kernel call via a reference
  * object, keeping the surrounding stage inside whole-stage codegen.
  */
object HashKernels {
  // One MessageDigest per thread: getInstance per call costs an allocation
  // + provider lookup, and these kernels digest millions of tiny inputs
  // per task. reset() + update(off, len) also avoids the copyOfRange a
  // DigestUtils range-less call would force on every gram.
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** The thread-local digest itself, for kernels streaming multi-part
    * updates (caller resets before use; single-threaded per task). */
  def md5ThreadLocal: java.security.MessageDigest = md5Local.get()

  /** Raw 16-byte md5 of a byte range, via the thread-local digest. */
  def md5Range(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, off, len)
    md.digest()
  }

  /** Raw 16-byte md5 of `prefix ++ bytes` without materializing the
    * concatenation. */
  def md5Prefixed(prefix: Array[Byte], bytes: Array[Byte]): Array[Byte] = {
    val md = md5Local.get()
    md.reset()
    md.update(prefix)
    md.update(bytes)
    md.digest()
  }

  /** Unsigned big-endian 32-bit word at byte offset `off` of a digest —
    * identical to parsing hex chars [2·off, 2·off+8) of the hex form. */
  def word32(digest: Array[Byte], off: Int): Long =
    ((digest(off) & 0xffL) << 24) | ((digest(off + 1) & 0xffL) << 16) |
      ((digest(off + 2) & 0xffL) << 8) | (digest(off + 3) & 0xffL)

  /** Value of the first 8 hex chars of md5Hex(bytes) — the shared 32-bit
    * hash primitive (`strpos`-parsed identically by the oracle). Computed
    * from the raw digest bytes: the first 8 hex chars ARE the first 4
    * digest bytes, so no hex string is ever built or parsed. */
  def hash32(bytes: Array[Byte]): Long = hash32Range(bytes, 0, bytes.length)

  /** [[hash32]] over a byte range (no slice allocation). */
  def hash32Range(bytes: Array[Byte], off: Int, len: Int): Long =
    word32(md5Range(bytes, off, len), 0)
}

/** MinHash signature over a shingle array: element i is the minimum over
  * shingles of the 32-bit word at offset i of the concatenated digests
  * md5("0|s"), md5("1|s"), … — exactly
  * [[graft.ext.Dedup.minhashSignatureHof]]. Shingle-free docs yield the
  * Long.MaxValue sentinel signature. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  // "<d>|" prefixes precomputed once: the digested stream is the UTF-8
  // bytes of d.toString + "|" + shingle, fed to md5 as two updates
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate((numHashes + 3) / 4)(d => (d.toString + "|").getBytes("UTF-8"))

  def compute(shingles: ArrayData): ArrayData = {
    val nDigests = (numHashes + 3) / 4
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    val n = shingles.numElements()
    while (s < n) {
      // null elements contribute nothing — the DOCUMENTED kernel
      // semantics for the public array<string> surface. The HOF spec
      // form takes TEXT and builds its shingle array itself (split +
      // distinct, never null elements), so kernel-vs-HOF bit-parity is
      // unaffected by this choice.
      if (!shingles.isNullAt(s)) {
        val tb = shingles.getUTF8String(s).getBytes
        var d = 0
        while (d < nDigests) {
          // hex chars [8w, 8w+8) of the digest are its bytes [4w, 4w+4)
          val dig = HashKernels.md5Prefixed(prefixes(d), tb)
          var w = 0
          while (w < 4 && d * 4 + w < numHashes) {
            val v = HashKernels.word32(dig, w * 4)
            val slot = d * 4 + w
            if (v < sig(slot)) sig(slot) = v
            w += 1
          }
          d += 1
        }
      }
      s += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashKernel", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** One-permutation-hashing MinHash (Li, Owen & Zhang, NIPS 2012) with
  * rotational densification (Shrivastava & Li, ICML 2014): ONE md5 per
  * shingle — the digest's first 32-bit word is the candidate slot
  * VALUE, its second word picks which of the `numHashes` slots it
  * lands in (mod) — then every empty slot borrows the value of the
  * nearest filled slot to its right, circularly. O(|shingles| +
  * numHashes) per row where [[MinHashSignature]] pays
  * O(|shingles| · numHashes/4) digests — the rung that makes k = 128+
  * signatures affordable when signatures are computed at corpus scale.
  *
  * The result is a DIFFERENT (also consistent) Jaccard estimator than
  * k independent permutations: signatures from the two kernels are not
  * interchangeable, but band geometry and every downstream LSH
  * consumer are. Slot values are 32-bit words (< 2^32), so
  * Long.MaxValue doubles as the unambiguous empty sentinel;
  * shingle-free docs yield the all-sentinel signature (densification
  * from nothing stays empty) — same sentinel contract as the classic
  * kernel. Mirrored slot-for-slot by the oracle's HOF SQL. */
case class MinHashSignatureOph(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_oph"

  def compute(shingles: ArrayData): ArrayData = {
    val k = numHashes
    val sig = Array.fill(k)(Long.MaxValue)
    var filled = 0
    var s = 0
    val n = shingles.numElements()
    while (s < n) {
      // null elements contribute nothing — the documented kernel
      // semantics for the public array<string> surface (the HOF spec
      // form builds its own shingle array; parity unaffected)
      if (!shingles.isNullAt(s)) {
        val tb = shingles.getUTF8String(s).getBytes
        val dig = HashKernels.md5Range(tb, 0, tb.length)
        val v = HashKernels.word32(dig, 0)
        val b = (HashKernels.word32(dig, 4) % k).toInt
        if (sig(b) == Long.MaxValue) filled += 1
        if (v < sig(b)) sig(b) = v
      }
      s += 1
    }
    if (filled > 0 && filled < k) {
      // right-circular borrow in O(k): walking j downward, carry holds
      // the nearest filled slot's value at an index > j (wrapping via
      // the first filled slot)
      var first = 0
      while (sig(first) == Long.MaxValue) first += 1
      val out = new Array[Long](k)
      var carry = sig(first)
      var j = k - 1
      while (j >= 0) {
        if (sig(j) != Long.MaxValue) carry = sig(j)
        out(j) = carry
        j -= 1
      }
      new GenericArrayData(out)
    } else new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashOphKernel", this,
      classOf[MinHashSignatureOph].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureOph =
    copy(child = newChild)
}

/** Distinct word n-gram shingle STRINGS in first-occurrence order —
  * exactly `array_distinct(transform(positions, i -> array_join(slice(
  * ts, i, n), " ")))`, compiled: token bytes materialize once per row,
  * each gram is one sized byte copy (no per-element lambda dispatch, no
  * intermediate position array), and distinctness rides a hash set that
  * preserves first-occurrence order like `array_distinct` does. The
  * projection under every MinHash/Jaccard consumer, where shingling is
  * the documented dominant cost. NULL tokens join as empty strings. */
case class ShingleStrings(child: Expression, n: Int,
    distinct: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  def compute(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val bytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      bytes(i) =
        if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    // distinct (the MinHash/Jaccard set contract) keeps first-occurrence
    // order via a LinkedHashSet; non-distinct (LM/occurrence counting)
    // keeps every window in position order
    val seen: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]((m - n + 1) * 2)
      else new java.util.ArrayList[UTF8String](m - n + 1)
    var pos = 0
    while (pos <= m - n) {
      var len = n - 1 // separators
      var t = pos
      while (t < pos + n) { len += bytes(t).length; t += 1 }
      val buf = new Array[Byte](len)
      var o = 0
      t = pos
      while (t < pos + n) {
        if (t > pos) { buf(o) = ' '.toByte; o += 1 }
        System.arraycopy(bytes(t), 0, buf, o, bytes(t).length)
        o += bytes(t).length
        t += 1
      }
      seen.add(UTF8String.fromBytes(buf))
      pos += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleKernel", this,
      classOf[ShingleStrings].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** Positioned word-gram digest structs for EVERY requested gram width in
  * one compiled pass — the hot projection under
  * [[graft.ext.TextOps.gopherRepetition]] (and any multi-width gram
  * consumer): for each n ∈ `ns` and each start position, one
  * `(n, pos, md5, gc)` struct, where the md5 digests the n tokens
  * joined by single spaces (identical bytes to
  * `md5(array_join(slice(ts, i+1, n), " "))`) and `gc` is the gram's
  * token-CHARACTER sum for n ∈ `gcNs` (0 otherwise).
  *
  * The HOF form pays an interpreted lambda per gram — array slice,
  * string join, digest — ~Σn·|tokens| times per row (higher-order
  * functions never enter whole-stage codegen). Here token bytes and
  * char-length prefix sums are computed ONCE per row, each gram is a
  * multi-update digest over the precomputed byte arrays (no join
  * string ever materializes), and gc is two prefix-sum lookups. NULL
  * tokens digest as empty strings (split never produces them; the
  * guard is for the raw kernel surface). */
case class GramStructs(child: Expression, ns: Seq[Int], gcNs: Seq[Int])
    extends UnaryExpression with ExpectsInputTypes {
  require(ns.nonEmpty, "at least one gram width required")
  require(ns.forall(_ >= 1), s"gram widths must be >= 1, got $ns")
  require(ns.distinct == ns, s"duplicate gram widths: $ns")
  require(gcNs.forall(ns.contains), s"gcNs ($gcNs) must be a subset of ns ($ns)")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("h", StringType, nullable = false),
    StructField("gc", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_gram_structs"

  @transient private lazy val gcSet = gcNs.toSet
  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    val bytes = new Array[Array[Byte]](m)
    val charPrefix = new Array[Long](m + 1)
    var i = 0
    while (i < m) {
      val u = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      bytes(i) = if (u == null) Array.emptyByteArray else u.getBytes
      charPrefix(i + 1) = charPrefix(i) + (if (u == null) 0 else u.numChars())
      i += 1
    }
    val total = ns.map(n => math.max(m - n + 1, 0)).sum
    val out = new Array[Any](total)
    val md = HashKernels.md5ThreadLocal
    var o = 0
    ns.foreach { n =>
      val wantGc = gcSet(n)
      var pos = 0
      while (pos <= m - n) {
        md.reset()
        var t = pos
        while (t < pos + n) {
          if (t > pos) md.update(' '.toByte)
          md.update(bytes(t))
          t += 1
        }
        val dig = md.digest()
        val hex = new Array[Char](32)
        var b = 0
        while (b < 16) {
          hex(b * 2) = hexDigits((dig(b) >> 4) & 0xf)
          hex(b * 2 + 1) = hexDigits(dig(b) & 0xf)
          b += 1
        }
        val gc = if (wantGc) charPrefix(pos + n) - charPrefix(pos) else 0L
        out(o) = org.apache.spark.sql.catalyst.InternalRow(
          n, pos.toLong, UTF8String.fromString(new String(hex)), gc)
        o += 1
        pos += 1
      }
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gramStructsKernel", this,
      classOf[GramStructs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramStructs =
    copy(child = newChild)
}

/** 60-bit SimHash over a (distinct) token array: bit b of the result is
  * the sign of the vote sum over tokens of bit b of the token's 60-bit
  * hash (first 15 hex chars of md5) — exactly
  * [[graft.ext.Dedup.simhashHof]]. */
case class SimHash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  def compute(tokens: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      // null tokens cast no vote — documented kernel semantics; the HOF
      // spec form builds its token array from text (never null elements)
      if (!tokens.isNullAt(i)) {
        // first 15 hex chars = the top 60 bits of the first 8 digest
        // bytes: drop the 16th hex char by shifting out its nibble
        val tb = tokens.getUTF8String(i).getBytes
        val dig = HashKernels.md5Range(tb, 0, tb.length)
        val h = ((HashKernels.word32(dig, 0) << 32) | HashKernels.word32(dig, 4)) >>> 4
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) >= 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhashKernel", this, classOf[SimHash60].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Jaccard similarity of two string arrays on distinct elements —
  * |A ∩ B| / |A ∪ B| as double, 0.0 when both are empty; exactly
  * [[graft.ext.TextOps.jaccardHof]]. One hash-set pass instead of
  * array_intersect + two array_distinct traversals — the hot scalar of
  * the near-dup verify stage, where every LSH candidate pair pays it
  * over shingle arrays. */
case class ArrayJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_jaccard"

  def compute(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < a.numElements()) { sa.add(a.getUTF8String(i)); i += 1 }
    val sb = new java.util.HashSet[UTF8String]()
    var inter = 0
    var j = 0
    while (j < b.numElements()) {
      val e = b.getUTF8String(j)
      if (sb.add(e) && sa.contains(e)) inter += 1
      j += 1
    }
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jaccardKernel", this, classOf[ArrayJaccard].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayJaccard =
    copy(left = newLeft, right = newRight)
}

/** `jaccard(a, b) >= threshold` for two DISTINCT string arrays sorted
  * in [[graft.ext.Dedup.hashOrdered]]'s universal `(xxhash64(t), t)`
  * order — PPJoin's verify (Xiao et al., WWW 2008): one merge of the
  * two sorted arrays that returns false as soon as the overlap can no
  * longer reach `α = ⌈τ/(1+τ)·(n_a+n_b) − 1e-9⌉`, the overlap bound
  * the candidate filters use, with the same down-guarded ceil. Each
  * element is hashed once, when the merge reaches it (Spark's
  * xxhash64, seed 42; a null element hashes to the seed and sorts
  * before a string of equal hash, as in `sort_array`). A merge that runs to the end applies the same double
  * test as `ArrayJaccard >= threshold`, and the guard keeps α at or
  * below every overlap that test accepts, so the decisions are
  * identical. Arrays outside that order or with repeats get
  * undefined answers: use [[ArrayJaccard]]. */
case class HashOrderedJaccardAtLeast(
    left: Expression, right: Expression, threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_hash_ordered_jaccard_at_least"

  private val ratio = threshold / (1.0 + threshold)

  private def hash(t: UTF8String): Long =
    if (t == null) 42L
    else org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)

  def compute(a: ArrayData, b: ArrayData): Boolean = {
    val na = a.numElements()
    val nb = b.numElements()
    val alpha = math.ceil(ratio * (na + nb) - 1e-9)
    var i = 0
    var j = 0
    var inter = 0
    var ta: UTF8String = if (na > 0) a.getUTF8String(0) else null
    var tb: UTF8String = if (nb > 0) b.getUTF8String(0) else null
    var ha = if (na > 0) hash(ta) else 0L
    var hb = if (nb > 0) hash(tb) else 0L
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < alpha) return false
      val c =
        if (ha != hb) java.lang.Long.compare(ha, hb)
        else if (ta == null) (if (tb == null) 0 else -1)
        else if (tb == null) 1
        else ta.compareTo(tb)
      if (c <= 0) {
        i += 1
        if (i < na) { ta = a.getUTF8String(i); ha = hash(ta) }
      }
      if (c >= 0) {
        j += 1
        if (j < nb) { tb = b.getUTF8String(j); hb = hash(tb) }
      }
      if (c == 0) inter += 1
    }
    val union = na + nb - inter
    (if (union == 0) 0.0 else inter.toDouble / union) >= threshold
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jaccardAtLeastKernel", this,
      classOf[HashOrderedJaccardAtLeast].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashOrderedJaccardAtLeast =
    copy(left = newLeft, right = newRight)
}

/** Content-defined chunking (FastCDC-style gear hash) over a blob:
  * slices the byte stream at positions where a rolling gear hash hits a
  * boundary pattern, so chunk boundaries are a function of CONTENT, not
  * offset — inserting or deleting bytes re-chunks only the neighborhood
  * of the edit, and every downstream chunk fingerprint survives (the
  * delta-dedup property fixed-size [[graft.ext.BinaryOps.chunkFingerprints]]
  * cannot give: there one inserted byte shifts every later boundary).
  *
  * Per chunk: `(offset, length, fp)` with fp = md5 hex of the chunk
  * bytes — offsets make the output usable as a real chunk index, and the
  * md5 matches the fixed-size form's fingerprints.
  *
  * Rolling hash: `h = h << 1 + gear(byte)` with a deterministic gear
  * table (md5 of the byte value — the repo's single hash primitive); a
  * boundary fires when the top `avgBits` bits of `h` are all zero (mask
  * test) and the chunk has reached `minBytes`; `maxBytes` force-cuts
  * pathological content (e.g. all-zero bytes never matching the mask).
  * Expected chunk size ≈ minBytes + 2^avgBits. Oracle-exempt: the
  * rolling state machine is not SQL-expressible; boundary-shift
  * invariance and slice integrity are spec-asserted instead. */
case class CdcChunkFingerprints(
    child: Expression, minBytes: Int, avgBits: Int, maxBytes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(minBytes > 0 && maxBytes >= minBytes && avgBits > 0 && avgBits < 32,
    s"invalid CDC parameters: min=$minBytes avgBits=$avgBits max=$maxBytes")

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("offset", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("fp", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"

  // mask over the TOP bits (FastCDC observation: high bits mix better
  // under the shift-accumulate recurrence than low bits)
  private val mask: Long = ((1L << avgBits) - 1) << (64 - avgBits)

  def compute(bytes: Array[Byte]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var start = 0
    var i = 0
    var h = 0L
    while (i < bytes.length) {
      h = (h << 1) + CdcChunkFingerprints.Gear(bytes(i) & 0xff)
      i += 1
      val len = i - start
      if ((len >= minBytes && (h & mask) == 0L) || len >= maxBytes) {
        out += chunkRow(bytes, start, len)
        start = i
        h = 0L
      }
    }
    if (start < bytes.length || bytes.length == 0)
      out += chunkRow(bytes, start, bytes.length - start)
    new GenericArrayData(out.toArray[Any])
  }

  private def chunkRow(bytes: Array[Byte], start: Int, len: Int): InternalRow =
    InternalRow(start, len, UTF8String.fromString(
      DigestUtils.md5Hex(java.util.Arrays.copyOfRange(bytes, start, start + len))))

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cdcKernel", this, classOf[CdcChunkFingerprints].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunkFingerprints =
    copy(child = newChild)
}

object CdcChunkFingerprints {
  /** Deterministic gear table: 64-bit value of the first 16 hex chars of
    * md5 of the byte value — fixed across JVMs and sessions, so chunk
    * boundaries are engine-reproducible. */
  private val Gear: Array[Long] = Array.tabulate(256) { b =>
    java.lang.Long.parseUnsignedLong(
      DigestUtils.md5Hex(b.toString).substring(0, 16), 16)
  }
}

/** Winnowing fingerprints over a string: 32-bit hashes of the k-char
  * grams, minima of each w-gram sliding window, distinct in first-seen
  * order — exactly [[graft.ext.TextOps.winnowFingerprintsHof]].
  * Character (not byte) gram boundaries, matching Spark's substring. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && w > 0, s"gram size and window must be positive, got k=$k w=$w")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  def compute(text: UTF8String): ArrayData = {
    // Gram boundaries are CODE POINTS, exactly like Spark's substring
    // expression (a Java String slice counts UTF-16 units and diverges on
    // non-BMP text). Precompute every code point's byte offset in one
    // pass, then hash each gram straight out of the byte array:
    // substringSQL(i+1, k) per gram would re-seek from the string start
    // every call — O(len²) byte scans per document.
    val bytes = text.getBytes
    val len = text.numChars()
    val offsets = new Array[Int](len + 1)
    var ci = 0
    var bi = 0
    while (bi < bytes.length && ci < len) {
      offsets(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    offsets(len) = bytes.length
    val nGrams = math.max(len - k + 1, 1)
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val start = offsets(i)
      val end = offsets(math.min(i + k, len))
      grams(i) = HashKernels.hash32Range(bytes, start, end - start)
      i += 1
    }
    val nWindows = math.max(nGrams - w, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < nWindows) {
      var m = Long.MaxValue
      var x = j
      val end = math.min(j + w, nGrams)
      while (x < end) {
        if (grams(x) < m) m = grams(x)
        x += 1
      }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowKernel", this, classOf[WinnowFingerprints].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Unsigned value of the first 8 hex chars of `md5(salt || key)` — the
  * native form of [[GraftFunctions.md5Prefix32]]'s
  * `conv(substring(md5(concat(salt, key)), 1, 8), 16, 10)` column. The
  * first 8 hex chars ARE the digest's first 4 bytes, so the kernel
  * digests `saltBytes ++ keyBytes` (no concatenated string, no hex
  * string, no BigInteger parse in `conv`) and reads one big-endian
  * 32-bit word — bit-identical by construction, asserted against the
  * builtin-expression form in HashExpressionsSpec. Every md5-keyed
  * sampler/splitter/resampler shares this one definition, so their
  * DuckDB strpos-parse oracles are untouched. */
case class Md5Prefix32(child: Expression, salt: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix32"

  @transient private lazy val saltBytes: Array[Byte] =
    salt.getBytes("UTF-8")

  def compute(key: UTF8String): Long =
    HashKernels.word32(
      HashKernels.md5Prefixed(saltBytes, key.getBytes), 0)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5Prefix32Kernel", this, classOf[Md5Prefix32].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
    copy(child = newChild)
}
