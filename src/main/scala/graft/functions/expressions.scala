package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Native Catalyst expressions for the LLM-pipeline hot paths.
  *
  * Spark's higher-order functions (`transform`/`aggregate` lambdas) are
  * interpreted, not codegen'd — a minhash signature written as nested
  * HOFs costs ~100× more than a fused JVM loop (measured: 273 s → ~3 s
  * for near-dup dedup at sf0.1). These expressions keep the whole
  * signature/kernel computation inside one codegen-compatible call per
  * row: `doGenCode` emits a static call, so the surrounding projection
  * stays inside WholeStageCodegen with no virtual dispatch per element.
  */

/** MinHash signature of a string array (Broder 1997, "On the
  * resemblance and containment of documents"): sig[j] = min over elements of
  * hash_j(s), where hash_j is an affine rehash of one xxhash64 base hash
  * (one string hash per element, k cheap long multiply-adds). */
case class MinHashSig(child: Expression, numHashes: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if numHashes < 1 || numHashes > MinHashSig.MaxHashes =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numHashes must be in [1, ${MinHashSig.MaxHashes}], got $numHashes")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val MaxHashes = 512

  /** Deterministic affine-rehash constants (odd multipliers). */
  private val (mulA, addB) = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    val a = Array.fill(MaxHashes)(next() | 1L)
    val b = Array.fill(MaxHashes)(next())
    (a, b)
  }

  def compute(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { i += 1 } else {
      val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < k) {
        val hj = h * mulA(j) + addB(j)
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
      }
    }
    new GenericArrayData(mins)
  }
}

/** 60-bit SimHash (Charikar 2002, "Similarity estimation techniques
  * from rounding algorithms") over a string array, using md5-derived
  * per-element hashes (first 15 md5 hex chars = 7.5 bytes, big-endian)
  * so an external engine can reproduce the signature bit-for-bit from
  * `md5(s)` hex. 60 bits (not 64) keeps the value positive and exactly
  * representable in engines whose hex→int parse is signed-BIGINT only,
  * and divides evenly into 4×15-bit blocking bands: hamming ≤ 3 ⇒ one
  * band identical (pigeonhole), with 2^15 bucket values per band —
  * 128× the blocking selectivity of 8-bit bands at the same recall. */
case class SimHash60(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  val Bits = 60

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](Bits)
    val md = digest.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { i += 1 } else {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // first 15 hex chars of md5 == top 60 bits of the first 8 bytes
      // read big-endian (drop the low nibble of byte 7)
      var be = 0L
      var k = 0
      while (k < 8) { be = (be << 8) | (d(k) & 0xffL); k += 1 }
      val hv = be >>> 4
      var j = 0
      while (j < Bits) {
        counts(j) += (if (((hv >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < Bits) {
      if (counts(j) >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** Distinct n-word shingles of single-space-separated text, fused:
  * split + sliding-window join + dedup in one pass over the string
  * (the transform/slice/concat_ws HOF formulation is interpreted and
  * allocates per element). Texts with fewer than n tokens yield an
  * empty array. */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(' ')
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }
}

/** All character n-grams of a string (duplicates kept — downstream
  * frequency counts need multiplicity), fused into one pass. Character
  * semantics match Spark's substring (code points via UTF8String). */
case class CharNgrams(child: Expression, n: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(s"$prettyName n must be >= 1")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    CharNgrams.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharNgrams.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: UTF8String, n: Int): ArrayData = {
    val m = text.numChars()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      out(i) = text.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Rolling polynomial hashes of all character k-grams (Karp & Rabin
  * 1987; selection sketches over them follow Schleimer et al. 2003,
  * "Winnowing: local algorithms for document fingerprinting"):
  * h_i = (Σ_j cp(i+j)·B^(k-1-j)) mod M over code points, B = 257,
  * M = 2^31−1. True O(n) rolling update in one JVM loop; duplicates
  * kept (downstream sketches choose their own selection rule). The
  * arithmetic is plain BIGINT-safe modular math so external engines
  * reproduce the hashes exactly (DuckDB: unicode(substr(...)) products
  * summed then mod — exact in int64 for k ≤ 5). Texts shorter than k
  * yield an empty array. */
case class RollingHashes(child: Expression, k: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if k < 1 || k > RollingHashes.MaxK =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must be in [1, ${RollingHashes.MaxK}], got $k")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hashes"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    RollingHashes.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashes.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashes =
    copy(child = newChild)
}

object RollingHashes {
  /** JVM side is overflow-safe for any k (B^(k-1) is reduced mod M before
    * each product). The cap guards the ORACLE formulation, where a plain
    * Σ cp·B^j int64 sum with no intermediate mod stays exact only while
    * B^(k-1) ≤ B^7 ≈ 7.2e16 (cp·B^j summed still < 2^63 for ASCII cp;
    * for full-Unicode cp keep k ≤ 5 or add per-term mods in the SQL). */
  val MaxK = 8
  val Base = 257L
  val Mod = 2147483647L // 2^31 − 1

  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    // B^(k-1) mod M for the rolling subtraction
    var bk1 = 1L
    var p = 0
    while (p < k - 1) { bk1 = bk1 * Base % Mod; p += 1 }
    val out = new Array[Any](n - k + 1)
    var h = 0L
    var j = 0
    while (j < k) { h = (h * Base + cps(j)) % Mod; j += 1 }
    out(0) = h
    var i = 1
    while (i <= n - k) {
      var t = (h - cps(i - 1) * bk1 % Mod) % Mod
      if (t < 0) t += Mod
      h = (t * Base + cps(i + k - 1)) % Mod
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Cosine similarity of two double arrays in one fused pass. */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double>, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def foldable: Boolean = left.foldable && right.foldable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSim.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // zero or empty vectors are similar to nothing: 0.0, never NaN —
    // NaN sorts above every double and would top-rank a zero vector in
    // every ORDER BY cos DESC. Null elements read as 0.0 (ArrayData).
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Scalar twin for the streaming doors (plain arrays instead of
    * ArrayData — the codegen path cannot serve a Dataset.map closure):
    * IDENTICAL loop and accumulation order, so a door verdict is
    * bit-equal to the batch column for the same vectors. Parity is
    * asserted in EventStreamSpec (the semantic door vs the batch
    * attach leg over the same corpus). */
  def compute(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Dot product of two double arrays (used for LSH hyperplane signs). */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double>, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def foldable: Boolean = left.foldable && right.foldable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProduct.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    dot
  }
}

/** Positional word-n-gram hashes: element i is the xxhash64 (seed 42 —
  * Catalyst's) of words i..i+n-1 joined by single spaces, i.e. exactly
  * `transform(sequence(0, size(ws)-n), i -> xxhash64(array_join(slice(
  * ws, i+1, n), ' ')))` over `ws = split(text, ' ')` — but computed in
  * one O(bytes) pass with ZERO string allocation: splitting on a single
  * space and re-joining with a single space reproduces the original
  * byte span between the word boundaries (empty tokens from doubled
  * spaces included), so each gram hash is just XXH64 over a slice of
  * the input's own bytes. The HOF formulation allocates n strings per
  * position through interpreted lambdas; this stays in codegen
  * (verbatim-span extraction measured 2.6× the cost of its sibling
  * passage query on the HOF path). Fewer than n words → empty array. */
case class WordGramHashes(child: Expression, n: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
      s"$prettyName n must be >= 1, got $n")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_gram_hashes"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    WordGramHashes.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordGramHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

object WordGramHashes {
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes // materialized once; spans index into it
    val total = bytes.length
    // word start offsets: 0, and every byte after a 0x20 (a space byte
    // never occurs inside a multi-byte UTF-8 sequence)
    var spaces = 0
    var i = 0
    while (i < total) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val numWords = spaces + 1
    if (numWords < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](numWords)
    var w = 1
    i = 0
    while (i < total) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    def end(word: Int): Int = if (word == numWords - 1) total else starts(word + 1) - 1
    val out = new Array[Long](numWords - n + 1)
    var p = 0
    while (p <= numWords - n) {
      val off = starts(p)
      out(p) = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off,
        end(p + n - 1) - off, 42L)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Winnowed fingerprint set (Schleimer, Wilkerson & Aiken, SIGMOD '03)
  * of a space-separated token string: hash every k-word gram, slide a
  * w-window over the hash sequence, keep each window's MINIMUM, dedupe.
  * Fused replacement for the HOF formulation in queries.Passages
  * (transform/slice/array_min lambdas are interpreted, and the gram
  * bytes would be re-concatenated per window) — here each gram is
  * hashed ONCE directly from its contiguous byte span in the input
  * (k words joined by single spaces IS the span between the first
  * word's start and the last word's end, including any empty tokens a
  * repeated space produces — byte-identical to
  * `concat_ws(' ', slice(split(text, ' '), i, k))`).
  *
  * The hash is the first 48 bits of md5 — NOT xxhash64 like the
  * sibling kernels — because winnowing's OUTPUT depends on the hash
  * ORDER (each window emits its minimum), so the oracle must replicate
  * the selection exactly: DuckDB has md5 and compares the same
  * fixed-width lowercase-hex strings this kernel emits. Minima are
  * compared as unsigned 48-bit longs internally (identical ordering to
  * the hex strings) and rendered only on selection. Documents shorter
  * than k+w−1 words produce an EMPTY array, never a null — the
  * streaming face relies on short docs flowing through (zero rows
  * after explode) without a Filter that predicate-pushdown could move
  * below the watermark. */
case class WinnowFps(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if k < 1 || w < 1 => TypeCheckResult.TypeCheckFailure(
      s"$prettyName k and w must be >= 1, got k=$k w=$w")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    WinnowFps.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFps.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val total = bytes.length
    var spaces = 0
    var i = 0
    while (i < total) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val numWords = spaces + 1
    if (numWords < k + w - 1)
      return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](numWords)
    var word = 1
    i = 0
    while (i < total) {
      if (bytes(i) == 0x20) { starts(word) = i + 1; word += 1 }
      i += 1
    }
    def end(p: Int): Int = if (p == numWords - 1) total else starts(p + 1) - 1
    val digest = md.get()
    val numGrams = numWords - k + 1
    val hs = new Array[Long](numGrams)
    var p = 0
    while (p < numGrams) {
      val off = starts(p)
      digest.reset()
      digest.update(bytes, off, end(p + k - 1) - off)
      val d = digest.digest()
      // first 6 digest bytes = first 12 hex chars; unsigned 48-bit value
      hs(p) = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      p += 1
    }
    // window minima + first-seen dedup; w is small (4 in the shipped
    // operator) so the per-window scan beats a deque's bookkeeping
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var j = 0
    while (j <= numGrams - w) {
      var m = hs(j)
      var x = j + 1
      while (x < j + w) { if (hs(x) < m) m = hs(x); x += 1 }
      if (seen.add(m))
        out += org.apache.spark.unsafe.types.UTF8String.fromString(
          f"$m%012x")
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Non-overlapping n-word blocks of a space-separated token string —
  * the segment extraction under the line-dedup family
  * (queries.Passages): block p = tokens [p·n, p·n+n), full blocks only,
  * EMPTY array (never null, never an error) below one block so the
  * streaming gate's no-Filter watermark contract holds. Replaces the
  * interpreted transform/slice/concat_ws HOF chain: each block is one
  * contiguous byte span of the input (n words joined by single spaces
  * IS the span between the first word's start and the last word's end,
  * empty tokens from repeated spaces included — byte-identical to
  * `concat_ws(' ', slice(split(text, ' '), p*n+1, n))`), emitted
  * zero-copy from the backing array. */
case class WordBlocks(child: Expression, n: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
      s"$prettyName n must be >= 1, got $n")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_blocks"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    WordBlocks.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordBlocks.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordBlocks =
    copy(child = newChild)
}

object WordBlocks {
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    val bytes = s.getBytes
    val total = bytes.length
    var spaces = 0
    var i = 0
    while (i < total) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val numWords = spaces + 1
    val numBlocks = numWords / n
    if (numBlocks == 0) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](numWords)
    var w = 1
    i = 0
    while (i < total) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    def end(p: Int): Int = if (p == numWords - 1) total else starts(p + 1) - 1
    val out = new Array[Any](numBlocks)
    var b = 0
    while (b < numBlocks) {
      val off = starts(b * n)
      out(b) = org.apache.spark.unsafe.types.UTF8String
        .fromBytes(bytes, off, end(b * n + n - 1) - off)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Morton (Z-order) interleave of two 32-bit-normalized keys: bit i of
  * `left` lands at output bit 2i, bit i of `right` at 2i+1. The multi-
  * dimensional clustering key for sort-clustered layouts
  * (sources/ClusteredTables.zOrdered): sorting by the interleaved value
  * keeps rows close in BOTH key dimensions, so parquet row-group
  * min/max statistics prune predicates on EITHER key — a single-key
  * sort can only ever prune its leading key. Inputs must already be
  * normalized into [0, 2^32) (the writer's min/max rescale does this);
  * out-of-range bits are masked, never an error, because a clustering
  * key's worst failure mode is a bad layout, not a wrong result.
  * Interleave uses the standard O(1) magic-mask bit spreading, fused in
  * one codegen'd call. */
case class ZOrder64(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two bigint, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder64"
  override def foldable: Boolean = left.foldable && right.foldable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder64.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder64.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ZOrder64 =
    copy(left = newLeft, right = newRight)
}

object ZOrder64 {
  /** Spread the low 32 bits of v to the even bit positions of a long. */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def compute(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** DEFLATE-compressed size of a string's UTF-8 bytes (zlib, fixed level
  * 6, raw stream). compressed/raw is the classic compressibility quality
  * signal for LLM corpora: highly repetitive boilerplate compresses far
  * below natural prose, near-random noise barely compresses at all, and
  * both tails get filtered (the same family of repetition signals as
  * Rae et al. 2021 "Gopher" §A1.1 — this is the whole-document
  * complement of qRepetition's n-gram fractions). A native expression
  * for the usual reason: one fused JVM pass per row, no per-row lambda
  * dispatch, stays inside WholeStageCodegen. Output is deterministic for
  * a given zlib build (the JDK bundles its own), so it is stable within
  * a deployment but NOT engine-portable — the query face is rows-only
  * checked, never hash-compared against another engine. */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_len"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    DeflateLen.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateLen.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

object DeflateLen {
  /** Fixed level: the signal must not drift with a JVM default change. */
  val Level = 6

  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = new java.util.zip.Deflater(Level, /* nowrap = */ true)
    try {
      d.setInput(s.getBytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}

/** PQ asymmetric-distance readout: `codes(i)` names subspace i's
  * codebook entry (0-based index) and `lut` is one query's flat
  * subspace-major table of scale-9 fixed-point partial inner products
  * (lut(i*K + c) = ⟨query_sub_i, centroid_c_sub_i⟩ rounded to 9 dp,
  * K = lut.length / codes.length). Returns the exact fixed-point sum
  * of the M looked-up entries — the same value the relational
  * formulation (explode codes, equi-join the LUT rows, sum the
  * decimals) produces, because every entry was rounded BEFORE packing
  * and the kernel adds exact integers; ranking by this long is
  * bit-identical to ranking by the decimal sum, so the DuckDB oracle
  * needs no change. The kernel replaces a 16-rows-per-candidate join +
  * hash aggregate with one array probe per candidate: the scored frame
  * carries 16× fewer rows and no aggregation state, which is the
  * actual ADC contract (Jégou et al. '11 §IV: a code scan is M table
  * lookups, not a join). */
case class AdcScore(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int>, array<long>), got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "adc_score"
  override def foldable: Boolean = left.foldable && right.foldable

  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    AdcScore.compute(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.functions.AdcScore.compute($c, $l)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

object AdcScore {
  def compute(codes: ArrayData, lut: ArrayData): Long = {
    val m = codes.numElements()
    // empty codes or a LUT whose length is not an exact M×K grid is
    // index corruption — fail loudly, never score garbage (an ADC of 0
    // is a plausible mid-range value and would silently mis-rank)
    if (m == 0 || lut.numElements() % m != 0)
      throw new IllegalArgumentException(
        s"adc_score: ${lut.numElements()}-entry LUT is not a grid over $m codes")
    val k = lut.numElements() / m
    var s = 0L
    var i = 0
    while (i < m) {
      // an out-of-range code is index corruption — fail loudly, never
      // score garbage (same stance as the Passages keeper-key guard)
      val c = codes.getInt(i)
      if (c < 0 || c >= k)
        throw new IllegalArgumentException(
          s"adc_score: code $c out of range [0,$k) at subspace $i")
      s += lut.getLong(i * k + c)
      i += 1
    }
    s
  }
}

/** PQ encoder: maps one float vector to its M packed subspace codes
  * (0-based codebook ordinals) against a plan-time codebook constant
  * (K flat row-major centroids, kilobytes — the IVF-centroid collect
  * precedent). Semantically IDENTICAL to the relational encode it
  * replaces — per (subspace, centroid) the squared distance is the
  * same left-fold sum of per-dimension squares, pushed through the
  * same `cast(round(t, 9) as decimal)` rounding (replicated exactly in
  * [[PqEncode.scale9]]), argmin with ties to the lower ordinal — so
  * the staged codes table is bit-identical and the DuckDB oracle needs
  * no change (PqParitySpec pins kernel == relational on the real
  * corpus). A native kernel because the relational form fans every
  * vector out 512× (K×M rows of decimal expressions) through a top-1
  * selection — the dominant fresh-session cost of the PQ index build
  * (~4 s of an 8.6 s cold probe at sf0.1); the kernel is one fused
  * O(K·dim) pass per vector inside WholeStageCodegen. */
case class PqEncode(child: Expression, codebook: Seq[Double], m: Int)
  extends UnaryExpression {

  @transient private lazy val cbArr: Array[Double] = codebook.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if m >= 1 && codebook.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> (m >= 1, non-empty codebook), got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], cbArr, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqEncode.compute($c, $cbRef, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  /** Codebook/vector geometry guard shared by [[PqEncode]] and
    * [[PqLut]]: `dim / m` and `cb.length / dim` must divide exactly or
    * the codes/LUT grid silently truncates — corrupt index geometry,
    * fail loudly (the adc_score grid-guard stance). */
  def checkGeometry(name: String, dim: Int, cb: Array[Double], m: Int): Unit = {
    if (dim == 0 || dim % m != 0)
      throw new IllegalArgumentException(
        s"$name: $dim-dim vector is not a grid over $m subspaces")
    if (cb.length % dim != 0 || cb.length == 0)
      throw new IllegalArgumentException(
        s"$name: ${cb.length}-entry codebook is not a grid over $dim dims")
  }

  def compute(v: ArrayData, cb: Array[Double], m: Int): ArrayData = {
    val dim = v.numElements()
    checkGeometry("pq_encode", dim, cb, m)
    val sub = dim / m
    val k = cb.length / dim
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val vb = mi * sub
      var best = 0
      var bestS = Long.MaxValue
      var c = 0
      while (c < k) {
        val cbase = c * dim + vb
        // left-fold double sum — same association as the 4-term
        // relational expression ((t0 + t1) + t2) + t3 (0.0 + t0 == t0)
        var t = 0.0
        var j = 0
        while (j < sub) {
          val d = v.getDouble(vb + j) - cb(cbase + j)
          t += d * d
          j += 1
        }
        val s = scale9(t)
        if (s < bestS) { bestS = s; best = c } // strict <: ties keep lower c
        c += 1
      }
      out(mi) = best
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** Exact replica of Spark's `cast(round(t, 9) as decimal(_,9))` on a
    * double, as a scale-9 fixed-point long: Round(double, 9) is
    * BigDecimal.valueOf(t).setScale(9, HALF_UP) converted BACK to
    * double, and the decimal cast re-rounds that double at scale 9 —
    * both steps reproduced so the kernel's compare keys are
    * bit-identical to the decimal column values the relational
    * formulation (and the DuckDB oracle) sorts on. */
  def scale9(t: Double): Long = {
    val rd = java.math.BigDecimal.valueOf(t)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(rd)
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }
}

/** PQ query-side LUT builder: one float query vector in, the packed
  * subspace-major ADC lookup table out — lut(m*K + c) = ⟨query sub m,
  * centroid c sub m⟩ as a scale-9 fixed-point long, the same left-fold
  * double sum and `cast(round(t, 9) as decimal)` rounding
  * ([[PqEncode.scale9]]) as the relational LUT it replaces, so ADC
  * totals stay bit-identical to the DuckDB oracle's decimal sums
  * (PqParitySpec pins kernel == relational). A kernel for the same
  * reason as [[PqEncode]]: the relational form is a crossJoin ×
  * explode × decimal-expression × pack-aggregate plan whose codegen
  * compile dominated the PQ probe's first-touch cost; this is one
  * fused O(K·dim) pass per query row. */
case class PqLut(child: Expression, codebook: Seq[Double], m: Int)
  extends UnaryExpression {

  @transient private lazy val cbArr: Array[Double] = codebook.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if m >= 1 && codebook.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> (m >= 1, non-empty codebook), got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override protected def nullSafeEval(input: Any): Any =
    PqLut.compute(input.asInstanceOf[ArrayData], cbArr, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqLut.compute($c, $cbRef, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object PqLut {
  def compute(v: ArrayData, cb: Array[Double], m: Int): ArrayData = {
    val dim = v.numElements()
    PqEncode.checkGeometry("pq_lut", dim, cb, m)
    val sub = dim / m
    val k = cb.length / dim
    val out = new Array[Long](m * k)
    var mi = 0
    while (mi < m) {
      val vb = mi * sub
      var c = 0
      while (c < k) {
        val cbase = c * dim + vb
        var t = 0.0
        var j = 0
        while (j < sub) {
          t += v.getDouble(vb + j) * cb(cbase + j)
          j += 1
        }
        out(mi * k + c) = PqEncode.scale9(t)
        c += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }
}

/** Average-hash perceptual fingerprint over an opaque binary payload —
  * the aHash step of the standard image near-dup pipeline (split the
  * decoded image into blocks, set bit i when block i's mean intensity
  * beats the global mean). Here the "decode" is the container's
  * deterministic stand-in (raw payload bytes as the intensity plane —
  * the multimodal-family convention, MultimodalMeta), but the
  * fingerprint math and everything downstream (banded Hamming join,
  * bit_count verify) is the real pipeline. 60 blocks, not 64, so the
  * packed hash stays positive in a signed BIGINT in both engines (the
  * SimHash60 precedent); block boundaries are the exact integer splits
  * s_i = ⌊i·n/60⌋ and bit i compares cross-multiplied integer sums
  * (block_sum·n > total·block_len) — no division, no floats, so the
  * DuckDB oracle reproduces the hash exactly. Payloads shorter than 60
  * bytes have zero-length blocks and must be filtered upstream (the
  * kernel fails loudly — a fingerprint of nothing is corruption, not
  * data). */
case class AHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "ahash60"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    AHash60.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): AHash60 =
    copy(child = newChild)
}

object AHash60 {
  val Blocks = 60

  def compute(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n < Blocks)
      throw new IllegalArgumentException(
        s"ahash60: payload of $n bytes has empty blocks — filter length >= $Blocks upstream")
    // the cross-multiplied compare is exact only while 255·n² fits a
    // long (n ≤ ~1.9e8); beyond that it would wrap SILENTLY — fail
    // loudly instead (the qSourceCosine overflow stance): a payload
    // that large should be block-sampled before fingerprinting anyway
    if (n > 150000000)
      throw new IllegalArgumentException(
        s"ahash60: $n-byte payload exceeds the exact-arithmetic bound (1.5e8)")
    var total = 0L
    var i = 0
    while (i < n) { total += bytes(i) & 0xff; i += 1 }
    var hash = 0L
    var b = 0
    while (b < Blocks) {
      val s = (b.toLong * n / Blocks).toInt
      val e = ((b + 1).toLong * n / Blocks).toInt
      var blockSum = 0L
      var j = s
      while (j < e) { blockSum += bytes(j) & 0xff; j += 1 }
      // cross-multiplied compare: bit = (blockSum / len > total / n)
      // with exact integers (len = e - s >= 1 because n >= Blocks)
      if (blockSum * n > total * (e - s)) hash |= 1L << b
      b += 1
    }
    hash
  }
}

/** Engine-PORTABLE minhash signature — the md5-based affine family the
  * LSH S-curve audit shares with its external oracle (Dedup.qLshCurve):
  * per element, base = first 12 hex chars of md5 mod p (p = 2³¹−1),
  * then sig[j] = min over elements of ((j+1)·AMul % p)·base +
  * ((j+1)·BMul + 17) % p, all mod p. Unlike [[MinHashSig]] (xxhash64,
  * engine-private, the production signature), every step here is
  * reproducible from any engine's `md5()` — the point of the audit is
  * that a second engine can recompute the exact candidate sets. As a
  * nested HOF this is ~100× interpreted-lambda cost (measured 3.5 s
  * warm at sf0.1 for the S-curve's signature build); the kernel fuses
  * md5 + rehash + minima into one codegen'd call per row. */
case class PortableMinhash(child: Expression, numHashes: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if numHashes < 1 || numHashes > MinHashSig.MaxHashes =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numHashes must be in [1, ${MinHashSig.MaxHashes}], got $numHashes")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.simpleString}")
  }
  // containsNull mirrors the HOF formulation it replaces: an empty
  // input yields all-null slots (array_min over an empty array), not
  // Long.MaxValue sentinels that would band-join as real keys
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "portable_minhash"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    PortableMinhash.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableMinhash.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): PortableMinhash =
    copy(child = newChild)
}

object PortableMinhash {
  /** 2³¹ − 1 (Mersenne prime) — the modulus of the affine family. */
  val P = 2147483647L
  /** Knuth's 2654435761 mod P. */
  val AMul = 506952114L
  val BMul = 40503L
  val Shift = 17L

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  // the affine family is fixed — precompute it once instead of two
  // multiplies + two mods per (element × slot)
  private val aArr = Array.tabulate(MinHashSig.MaxHashes)(j => ((j + 1) * AMul) % P)
  private val bArr = Array.tabulate(MinHashSig.MaxHashes)(j => ((j + 1) * BMul + Shift) % P)

  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    val md = md5Local.get()
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 12 hex chars = first 6 bytes, big-endian unsigned
        var h = 0L
        var b = 0
        while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        val hm = h % P
        var j = 0
        while (j < k) {
          val v = (aArr(j) * hm + bArr(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    // no hashable element → all-null slots, the HOF array_min semantics
    if (!seen) return new GenericArrayData(new Array[Any](k))
    new GenericArrayData(mins.map(Long.box(_): Any))
  }
}

/** Column-API entry points for the native expressions. */
object functions {
  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = GraftColumnBridge.expression(c)

  /** THE 4×15-bit band decomposition of a 60-bit signature — array of
    * (band, bv) structs, one per disjoint 15-bit slice. Every banded
    * face (simhash pairs, the blocking audit's simhash strategy, batch
    * + streaming phash, the phash recall audit) pins bit-equal
    * contracts on this exact layout; a single definition makes a band
    * change a compile-visible event instead of six silent drifts. */
  def bands_4x15(sig: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sequence, struct, transform}
    transform(sequence(lit(0), lit(3)), k =>
      struct(k.as("band"),
        col(org.apache.spark.sql.catalyst.expressions.ShiftRight(
          ex(sig), ex(k * lit(15)))).bitwiseAND(lit(32767)).as("bv")))
  }

  def minhash_sig(c: Column, numHashes: Int): Column = col(MinHashSig(ex(c), numHashes))
  def portable_minhash(c: Column, numHashes: Int): Column = col(PortableMinhash(ex(c), numHashes))
  def word_shingles(c: Column, n: Int): Column = col(WordShingles(ex(c), n))
  def char_ngrams(c: Column, n: Int): Column = col(CharNgrams(ex(c), n))
  def rolling_hashes(c: Column, k: Int): Column = col(RollingHashes(ex(c), k))
  def simhash60(c: Column): Column = col(SimHash60(ex(c)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def dot_product(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))
  def deflate_len(c: Column): Column = col(DeflateLen(ex(c)))
  def zorder64(a: Column, b: Column): Column = col(ZOrder64(ex(a), ex(b)))
  def word_gram_hashes(c: Column, n: Int): Column = col(WordGramHashes(ex(c), n))
  def winnow_fps(c: Column, k: Int, w: Int): Column = col(WinnowFps(ex(c), k, w))
  def word_blocks(c: Column, n: Int): Column = col(WordBlocks(ex(c), n))
  def ahash60(c: Column): Column = col(AHash60(ex(c)))
  def adc_score(codes: Column, lut: Column): Column = col(AdcScore(ex(codes), ex(lut)))
  def pq_encode(v: Column, codebook: Seq[Double], m: Int): Column = col(PqEncode(ex(v), codebook, m))
  def pq_lut(v: Column, codebook: Seq[Double], m: Int): Column = col(PqLut(ex(v), codebook, m))
}
