package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-hashing primitives used by dedup/fingerprinting.
  *
  * SimHash is exposed as a native Catalyst Expression (not a Scala UDF): it
  * evaluates directly on UTF8String without Row boxing/encoding, and
  * registers in the session FunctionRegistry so it is usable from SQL too.
  * (CodegenFallback: the per-row cost is dominated by tokenize+hash, not
  * the virtual call; doGenCode would buy little here.)
  */
object Hashing {

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic across JVMs/executors
    * (no seed, no object identity).
    */
  def fnv1a64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def fnv1a64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fnv1a64(b, 0, b.length)
  }

  /** fmix64 ∘ fnv1a64 over a UTF8String's bytes — the sketch-feed hash as
    * one static call, shared by FnvFmix64Expr's eval and generated code.
    */
  def fnvFmix64Utf8(s: UTF8String): Long = {
    val b = s.getBytes
    fmix64(fnv1a64(b, 0, b.length))
  }

  /** MurmurHash3 fmix64 finalizer (Appleby, public domain): full-avalanche
    * mixing of all 64 bits. FNV-1a alone under-disperses its HIGH bits for
    * short keys — fatal for sketches that index by the top bits (HLL
    * registers) — so sketch hashing is fnv1a64 ∘ fmix64. Shift/xor/multiply
    * only: exactly replayable mod 2^64 in the DuckDB oracles.
    */
  def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** 64-bit SimHash over whitespace tokens: each token hashed with FNV-1a;
    * bit b of the result is the sign of the sum over tokens of ±1 per
    * token-hash bit b. Near-duplicate texts differ in few bits (compare by
    * Hamming distance). Charikar, "Similarity estimation techniques from
    * rounding algorithms", STOC 2002 — public algorithm.
    */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    var start = -1
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i <= bytes.length) {
      val ws = i == bytes.length || bytes(i) == ' ' || bytes(i) == '\n' ||
        bytes(i) == '\t' || bytes(i) == '\r'
      if (!ws && start < 0) start = i
      if (ws && start >= 0) {
        val h = fnv1a64(bytes, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        start = -1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Registers hashing functions in the session registry (idempotent).
    * Call before using the `simhash64`/`hamming64`/`minhashSig` Columns.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash64", exprs => SimHash64Expr(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hamming64", exprs => Hamming64Expr(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash", exprs => MinHashSigExpr(exprs.head, exprs(1)), "built-in")
  }

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  def simhash64(c: Column): Column = toCol(SimHash64Expr(toExpr(c)))
  def fnvFmix64(c: Column): Column = toCol(FnvFmix64Expr(toExpr(c)))
  def hamming64(a: Column, b: Column): Column = toCol(Hamming64Expr(toExpr(a), toExpr(b)))
  def minhashSig(shingles: Column, k: Int): Column =
    toCol(MinHashSigExpr(toExpr(shingles),
      org.apache.spark.sql.catalyst.expressions.Literal(k)))

  /** Fused tokenize → word n-gram → k-MinHash in ONE pass over the text
    * (no intermediate shingle array, no per-gram string allocation beyond
    * a reused rolling buffer). This is the per-row kernel of corpus dedup;
    * at 100 TB the difference vs composing split/transform/concat
    * expressions is the job cost.
    */
  def textMinhash(text: Column, n: Int, k: Int): Column =
    toCol(TextMinHashExpr(toExpr(text),
      org.apache.spark.sql.catalyst.expressions.Literal(n),
      org.apache.spark.sql.catalyst.expressions.Literal(k)))

  /** JVM-side mirror of textMinhash for tests: tokenens lowered on
    * whitespace, n-gram joined by single spaces, FNV-hashed, k
    * multiply-add permutations.
    */
  def textMinhashLocal(text: String, n: Int, k: Int): Array[Long] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val (as, bs) = permConsts(k)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + n <= toks.length) {
      val h = fnv1a64(toks.slice(i, i + n).mkString(" "))
      var j = 0
      while (j < k) {
        val v = as(j) * h + bs(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — public
    * algorithm): rolling (Rabin-Karp) hash over byte k-grams, then the
    * minimum hash of each window of `w` consecutive k-grams, deduplicated.
    * Guarantees any shared substring of length ≥ w+k-1 contributes at
    * least one common fingerprint — the standard plagiarism/near-copy
    * detector primitive.
    */
  def winnow(c: Column, k: Int, w: Int): Column =
    toCol(WinnowExpr(toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(k),
      org.apache.spark.sql.catalyst.expressions.Literal(w)))

  /** JVM-side winnowing (mirror of WinnowExpr for tests). */
  def winnowLocal(text: String, k: Int, w: Int): Array[Long] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length < k) return Array.empty
    val B = 257L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    // rolling hashes of all k-grams
    val n = bytes.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - (bytes(i - 1) & 0xff) * pow) * B + (bytes(i + k - 1) & 0xff)
      hs(i) = h
      i += 1
    }
    if (n <= w) return Array(hs.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    i = 0
    while (i + w <= n) {
      var m = Long.MaxValue
      var j = i
      while (j < i + w) { if (hs(j) < m) m = hs(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  /** Deterministic multiply-add permutation constants (odd multipliers) for
    * the MinHash family — fixed seed, identical on every executor.
    */
  private[graft] def permConsts(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(0x5EEDL)
    val as = Array.fill(k)(rnd.nextLong() | 1L)
    val bs = Array.fill(k)(rnd.nextLong())
    (as, bs)
  }
}

/** string → 64-bit simhash. */
case class SimHash64Expr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Hashing.simhash64(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** string → fnv1a64∘fmix64 — the avalanche-finalized key hash shared by
  * the HLL registers and the KMV/theta bottom-k sketch. Returned as the
  * SIGNED long holding the unsigned 64-bit value; unsigned order is
  * recovered downstream by re-biasing into DECIMAL(38,0) (sk_theta) so
  * the oracle's HUGEINT replay compares identically.
  */
case class FnvFmix64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Hashing.fnvFmix64Utf8(input.asInstanceOf[UTF8String])
  // per-row sketch hashing (HLL/CMS/theta/KMV feeds) — static kernel call
  // keeps the aggregate's input projection in whole-stage codegen
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Hashing.fnvFmix64Utf8($a);")
  override protected def withNewChildInternal(newChild: Expression): FnvFmix64Expr =
    copy(child = newChild)
  override def prettyName: String = "graft_fnvfmix64"
}

/** array<string> shingles → array<long> of k MinHash values. A custom
  * Expression rather than higher-order functions because the HOF form
  * (k nested aggregates, string-concat seeding) re-hashes every shingle k
  * times with per-eval allocations; here each shingle is hashed ONCE and
  * the k permutations are multiply-add derivations — one tight JVM loop
  * per row, the pattern a 100 TB dedup pass needs.
  */
case class MinHashSigExpr(child: Expression, kExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = kExpr
  private lazy val k: Int = kExpr match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
    case _ => throw new IllegalArgumentException("minhash k must be a literal")
  }
  private lazy val (as, bs) = Hashing.permConsts(k)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any, kv: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i)
      val b = s.getBytes
      val h = Hashing.fnv1a64(b, 0, b.length)
      var j = 0
      while (j < k) {
        val v = as(j) * h + bs(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, kExpr = r)
  override def prettyName: String = "graft_minhash"
}

/** (text, n, k) → array<long> MinHash signature of the text's word
  * n-grams: lowercase whitespace tokenization, n-gram join with single
  * spaces (identical semantics to Dedup.wordNgrams∘tokens), FNV-1a gram
  * hashing, k multiply-add permutations. Single pass, no intermediate
  * collections. Returns all-MaxValue sentinel signature for texts with
  * fewer than n tokens (they can never band-match a real signature).
  */
case class TextMinHashExpr(text: Expression, nE: Expression, kE: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
  override def first: Expression = text
  override def second: Expression = nE
  override def third: Expression = kE
  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
    case _ => throw new IllegalArgumentException("n/k must be literals")
  }
  private lazy val n = litInt(nE)
  private lazy val k = litInt(kE)
  private lazy val (as, bs) = Hashing.permConsts(k)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any, nv: Any, kv: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString.toLowerCase
    val toks = s.split("\\s+").filter(_.nonEmpty)
    val mins = Array.fill(k)(Long.MaxValue)
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var g = 0
        while (g < n) {
          if (g > 0) sb.append(' ')
          sb.append(toks(i + g))
          g += 1
        }
        val bts = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = Hashing.fnv1a64(bts, 0, bts.length)
        var j = 0
        while (j < k) {
          val v = as(j) * h + bs(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
  override def prettyName: String = "graft_text_minhash"
}

/** (text, k, w) → array<long> winnowing fingerprints (see Hashing.winnow). */
case class WinnowExpr(text: Expression, kE: Expression, wE: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
  override def first: Expression = text
  override def second: Expression = kE
  override def third: Expression = wE
  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
    case _ => throw new IllegalArgumentException("k/w must be literals")
  }
  private lazy val k = litInt(kE)
  private lazy val w = litInt(wE)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any, kv: Any, wv: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Hashing.winnowLocal(t.asInstanceOf[UTF8String].toString, k, w))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
  override def prettyName: String = "graft_winnow"
}

/** (long, long) → Hamming distance of the two 64-bit values. */
case class Hamming64Expr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long]).toLong
  // this runs per CANDIDATE PAIR inside the LSH band joins — inline the
  // two-instruction kernel into whole-stage codegen rather than paying a
  // fallback eval() call per pair
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_hamming64"
}

/** (string, blockKey) → array<long> of hashes of every ≤d-deletion
  * variant of the string (SymSpell neighborhood), with the block key
  * folded into the seed. A native expression instead of the nested
  * higher-order-function form (transform∘transform + explode of variant
  * STRINGS) because that shape materializes O(len²) UTF8Strings per row
  * through Catalyst lambda plumbing — measured as the dominant cost of
  * the whole edit-distance join at sf0.1. Here no variant string ever
  * exists: one codepoint array per row, one FNV/fmix pass per (i,j)
  * skip pair, primitive long[] out. Equal variant strings hash equal by
  * construction (the hash consumes kept codepoints in order), so the
  * candidate set is exactly the neighborhood equi-join's; 64-bit
  * collisions only ever ADD candidates, which exact verification drops.
  */
case class DeletionHashesExpr(strE: Expression, blkE: Expression, d: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  require(d >= 0 && d <= 2, "DeletionHashesExpr supports d in 0..2")
  override def left: Expression = strE
  override def right: Expression = blkE
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(str: Any, blk: Any): Any = {
    val cps = str.asInstanceOf[UTF8String].toString.codePoints().toArray
    val bb = blk.asInstanceOf[UTF8String].getBytes
    val seed = Hashing.fnv1a64(bb, 0, bb.length)
    val n = cps.length
    def hashSkip(skip1: Int, skip2: Int): Long = {
      var h = seed
      var i = 0
      while (i < n) {
        if (i != skip1 && i != skip2) h = (h ^ cps(i)) * 1099511628211L
        i += 1
      }
      Hashing.fmix64(h)
    }
    val size = d match {
      case 0 => 1
      case 1 => 1 + n
      case _ => 1 + n + n * (n - 1) / 2
    }
    val out = new Array[Long](size)
    var w = 0
    out(w) = hashSkip(-1, -1); w += 1
    if (d >= 1) { var i = 0; while (i < n) { out(w) = hashSkip(i, -1); w += 1; i += 1 } }
    if (d >= 2) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out(w) = hashSkip(i, j); w += 1; j += 1 }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(strE = newLeft, blkE = newRight)
  override def prettyName: String = "graft_deletion_hashes"
}
