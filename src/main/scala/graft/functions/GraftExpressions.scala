package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where composing built-in
  * higher-order functions costs k interpreted array traversals per row.
  * Both generate code that calls a tight static JVM kernel (the standard
  * static-invoke pattern used by Spark's own collection expressions), so
  * they stay inside WholeStageCodegen spans instead of falling back to
  * interpreted lambda evaluation.
  *
  * Semantics are IDENTICAL to the composed-built-in forms in
  * graft.text.TextExprs / graft.sim.EmbeddingOps (same (h1+i·h2) mod p
  * family, same left-to-right double fold), so the DuckDB oracles verify
  * these too.
  */
object Kernels {
  val P: Long = 1000000007L

  /** k minhashes in ONE pass over the md5-hex array: for each digest,
    * parse the two 15-hex-char halves once, then update all k running
    * minima. Replaces k zip_with traversals + 2 parse arrays.
    */
  def minhashes(hashes: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getUTF8String(i).toString
      val h1 = java.lang.Long.parseLong(h.substring(0, 15), 16) % P
      val h2 = java.lang.Long.parseLong(h.substring(16, 31), 16) % P
      var s = 0
      while (s < k) {
        val v = (h1 + s * h2) % P
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private val mdTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5bytes(s: String): Array[Byte] =
    mdTL.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Value of hex nibbles [from, from+15) of the digest as a long —
    * identical to `parseLong(md5hex(s).substring(from, from+15), 16)`
    * without materializing the hex string (nibble i = high/low half of
    * byte i/2). Kernel hot path: called twice per shingle.
    */
  private def nib15(b: Array[Byte], from: Int): Long = {
    var v = 0L
    var i = from
    while (i < from + 15) {
      val nib = if ((i & 1) == 0) (b(i >> 1) >> 4) & 0xf else b(i >> 1) & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  private def shingleStrings(tokens: ArrayData, n: Int): Seq[String] = {
    val m = tokens.numElements()
    val toks = (0 until m).map(tokens.getUTF8String(_).toString)
    if (m >= n) (0 to m - n).map(i => toks.slice(i, i + n).mkString(" "))
    else Seq(toks.mkString(" ")) // same guard as TextExprs.shingles3
  }

  /** Distinct hashed word-n-gram identities in ONE pass: shingle → md5 →
    * first-15-hex-chars long (2^60 space; collision-free in practice and
    * IDENTICAL to the SQL/DuckDB form, so set equality is preserved
    * cross-engine). Sorted for deterministic downstream explode order.
    */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val hs = shingleStrings(tokens, n)
      .map(s => nib15(md5bytes(s), 0))
      .distinct.sorted
    new GenericArrayData(hs.toArray)
  }

  /** Per-position k-token window hashes in ONE pass: window string →
    * md5 → first-15-hex-chars long, POSITION-ALIGNED (element i is the
    * window starting at 1-based token position i+1; docs shorter than k
    * emit none). Same 2⁶⁰ identity space as [[shingleHashes]] and
    * identical to the SQL `('0x' || substring(md5(w), 1, 15))::BIGINT`
    * form, so the DuckDB oracle mirrors values exactly. Unlike
    * shingleHashes this keeps duplicates and order — passage dedup needs
    * OCCURRENCES, not the set.
    */
  def windowHashes(tokens: ArrayData, k: Int): ArrayData = {
    val m = tokens.numElements()
    val toks = (0 until m).map(tokens.getUTF8String(_).toString)
    val out =
      if (m >= k) (0 to m - k).map(i => nib15(md5bytes(toks.slice(i, i + k).mkString(" ")), 0))
      else Seq.empty[Long]
    new GenericArrayData(out.toArray)
  }

  /** Fused shingle → digest → k-minhash signature in one pass — skips
    * materializing the md5-hex string array entirely. Values identical to
    * minhashes(md5List(shingles), k).
    */
  def shingleMinhashes(tokens: ArrayData, n: Int, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    shingleStrings(tokens, n).foreach { s =>
      val h = md5bytes(s)
      val h1 = nib15(h, 0) % P
      val h2 = nib15(h, 16) % P
      var i = 0
      while (i < k) {
        val v = (h1 + i * h2) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** Intersection size of two SORTED long arrays by linear merge —
    * O(|a|+|b|) instead of the O(|a|·|b|) filter/contains scan. Used to
    * verify set-similarity-join candidates exactly (shingle_hashes output
    * is sorted by construction).
    */
  def sortedInterCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** 64-bit SimHash over a token array in ONE digest pass per token:
    * bit p (1-based) is the majority vote over tokens of bit p of
    * md5(token) (big-endian bit order over the first 16 hex digits —
    * identical to the hex-digit/shift SQL template in
    * TextExprs.simhash64FromHashes, which the DuckDB oracle uses).
    * Returned as a BIGINT with bit p at position 64−p (p=1 is the sign
    * bit), so pigeonhole band keys are a shift+mask and hamming distance
    * is bit_count(a ^ b) — both codegen-friendly integer ops, replacing
    * the r7 bit-STRING representation whose 16-char substring keys and 64
    * per-position compares were the heaviest constant factor in bench.
    * Ties (ones·2 == n) vote 0, matching the strict `>` in the SQL form.
    */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val d = md5bytes(tokens.getUTF8String(i).toString)
      var p = 0
      while (p < 64) {
        counts(p) += (d(p >> 3) >> (7 - (p & 7))) & 1
        p += 1
      }
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < 64) {
      if (counts(p) * 2 > n) sig |= 1L << (63 - p)
      p += 1
    }
    sig
  }

  /** All ≤τ-deletion variants of a string, as 64-bit content hashes
    * (FNV-1a over the surviving codepoints) — the SymSpell/FastSS
    * candidate keys for edit-distance-bounded joins. Codepoint-level
    * deletion matches the codepoint semantics of `levenshtein`, so the
    * soundness theorem (ed ≤ τ ⟹ a shared member of D≤τ(a) ∩ D≤τ(b))
    * holds for the verify step that consumes the collisions; hash
    * collisions only ever ADD candidates, which the DP verify discards.
    * One tight kernel pass replaces a transform+flatten+concat HOF stack
    * (~O(L²) interpreted array allocations per row) and shuffles 8-byte
    * longs instead of L-char strings.
    */
  def deletionNeighborhood(s: UTF8String, tau: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val seen = new java.util.HashSet[java.lang.Long](1 + n + n * n / 2)
    def hashSkipping(i: Int, j: Int): Long = {
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < n) {
        if (k != i && k != j) { h ^= cps(k); h *= 0x100000001b3L }
        k += 1
      }
      h
    }
    seen.add(hashSkipping(-1, -1)): Unit
    if (tau >= 1) {
      var i = 0
      while (i < n) { seen.add(hashSkipping(i, -1)): Unit; i += 1 }
    }
    if (tau >= 2) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { seen.add(hashSkipping(i, j)): Unit; j += 1 }
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Cosine similarity over two float arrays: double accumulation,
    * strictly left-to-right (bit-identical to the SQL aggregate/zip_with
    * form and to the DuckDB oracle).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** |a|² − 2⟨a,b⟩ + |b|² in ONE array pass: three INDEPENDENT
    * left-to-right double accumulators (self-dot, cross-dot, other-dot)
    * combined as `(aa - 2.0 * ab) + bb` — bit-identical to the three
    * separate aggregate(zip_with(...)) folds of the shared TextExprs.dot
    * template in the same combination order, which is what the DuckDB
    * oracles mirror. The HOF form evaluates three interpreted lambda
    * chains per row; this kernel was the dominant eval cost of the
    * in-query ANN trainings. Flags select float vs double element reads
    * (training-time centroids are double, corpus vectors float).
    */
  def l2sq(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    // ArrayData reads are unchecked: an OOB index or a null element slot
    // returns garbage rather than failing, so mismatched vectors or null
    // elements must be rejected HERE or the distance is silently wrong
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"l2_sq: vector length mismatch ($n vs ${b.numElements()})")
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"l2_sq: null element at position $i")
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      aa += x * x; ab += x * y; bb += y * y
      i += 1
    }
    aa - 2.0 * ab + bb
  }

  /** Fused SQ8 asymmetric distance: decode each code at its bin center
    * under the broadcast (mns, mxs) row and accumulate the SAME
    * |q|² − 2⟨q,recon⟩ + |recon|² fold as [[l2sq]] — recon_i =
    * mn + (c + 0.5)·(mx − mn)/255 evaluated inline in the identical
    * IEEE order as the sq8ReconX SQL template, so the result is
    * bit-identical to l2_sq(q, recon) over a materialized recon array
    * while never allocating that 64-double array per candidate (the
    * HOF transform is also CodegenFallback — this stays inside
    * WholeStageCodegen).
    */
  def sq8Adist(q: ArrayData, codes: ArrayData,
      mns: ArrayData, mxs: ArrayData, levels: Int): Double = {
    val n = q.numElements()
    if (codes.numElements() != n || mns.numElements() != n ||
        mxs.numElements() != n)
      throw new IllegalArgumentException(
        s"sq8_adist: length mismatch ($n / ${codes.numElements()} / " +
          s"${mns.numElements()} / ${mxs.numElements()})")
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || codes.isNullAt(i) || mns.isNullAt(i) ||
          mxs.isNullAt(i))
        throw new IllegalArgumentException(
          s"sq8_adist: null element at position $i")
      val x = q.getFloat(i).toDouble
      val mn = mns.getDouble(i)
      val mx = mxs.getDouble(i)
      val y = mn + (codes.getInt(i).toDouble + 0.5) * (mx - mn) / levels.toDouble
      aa += x * x; ab += x * y; bb += y * y
      i += 1
    }
    aa - 2.0 * ab + bb
  }

  /** Unicode NFC normalization (java.text.Normalizer — the same Unicode
    * standard DuckDB's nfc_normalize implements, so the two are
    * byte-identical on any input and the gate can hash full normalized
    * text). The canonical first step of a tokenizer pipeline: composed
    * and decomposed spellings of the same grapheme must hash/dedup as
    * one.
    */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Morton (Z-order) interleave of the low 32 bits of two non-negative
    * longs: a's bits land on even positions, b's on odd. The standard
    * mask-spread sequence — O(1), branch-free, codegen-friendly.
    */
  def zorder64(a: Long, b: Long): Long = {
    def spread(x: Long): Long = {
      var v = x & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    spread(a) | (spread(b) << 1)
  }
}

/** minhashes(array<string md5-hex>, k) → array<long>: the k-function
  * MinHash signature in a single array pass.
  */
case class MinHashes(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhashes expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.minhashes(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.minhashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashes = copy(child = c)
  override def prettyName: String = "minhashes"
}

/** shingle_hashes(array<string tokens>, n) → array<long>: distinct hashed
  * word-n-gram identities (set-similarity join keys).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.shingleHashes(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** window_hashes(array<string tokens>, k) → array<long>: position-aligned
  * rolling-window content hashes (see [[Kernels.windowHashes]]).
  */
case class WindowHashes(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"window_hashes expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.windowHashes(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.windowHashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): WindowHashes = copy(child = c)
  override def prettyName: String = "window_hashes"
}

/** shingle_minhashes(array<string tokens>, n, k) → array<long>: fused
  * shingling + k-function MinHash signature.
  */
case class ShingleMinHashes(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_minhashes expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.shingleMinhashes(input.asInstanceOf[ArrayData], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleMinhashes($c, $n, $k)")
  override protected def withNewChildInternal(c: Expression): ShingleMinHashes = copy(child = c)
  override def prettyName: String = "shingle_minhashes"
}

/** sorted_inter_count(array<long>, array<long>) → int: linear-merge
  * intersection size of two sorted arrays.
  */
case class SortedInterCount(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_inter_count expects two array<bigint>, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sortedInterCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Kernels.sortedInterCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCount =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_inter_count"
}

/** deletion_neighborhood(string, τ) → array<long>: hashed ≤τ-deletion
  * variants (see [[Kernels.deletionNeighborhood]]) — candidate keys for
  * edit-distance joins whose cost must not depend on string entropy.
  */
case class DeletionNeighborhood(child: Expression, tau: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"deletion_neighborhood expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.deletionNeighborhood(input.asInstanceOf[UTF8String], tau)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.deletionNeighborhood($c, $tau)")
  override protected def withNewChildInternal(c: Expression): DeletionNeighborhood =
    copy(child = c)
  override def prettyName: String = "deletion_neighborhood"
}

/** simhash64(array<string tokens>) → BIGINT signature (bit p of the hash
  * at position 64−p; see [[Kernels.simhash64]]).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Kernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** nfc_normalize(string) → string: Unicode NFC (see [[Kernels.nfc]]). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Kernels.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.nfc($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
  override def prettyName: String = "nfc_normalize"
}

/** zorder64(bigint, bigint) → bigint Morton code: interleaves the low 32
  * bits of both inputs (left on even bit positions, right on odd), the
  * multi-dimensional clustering key for data-layout optimization — rows
  * range-partitioned and sorted by this key land in files whose parquet
  * min/max footers bound BOTH dimensions, so a 2-D selective scan prunes
  * row groups on either predicate (measured by `ZOrderSpec`).
  */
case class ZOrder64(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zorder64 expects two bigints, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.zorder64(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.zorder64($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder64 =
    copy(left = l, right = r)
  override def prettyName: String = "zorder64"
}

/** cosine_sim(array<float>, array<float>) → double. */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two array<float>, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Kernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** l2_sq(array<float|double>, array<float|double>) → double: squared L2
  * distance as |a|² − 2⟨a,b⟩ + |b|² (see [[Kernels.l2sq]] for the
  * bit-exactness contract with the dot-template oracles).
  */
case class L2Sq(left: Expression, right: Expression)
  extends BinaryExpression {
  private def vecType(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (vecType(left.dataType), vecType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"l2_sq expects two array<float|double>, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  private lazy val lF = vecType(left.dataType).get
  private lazy val rF = vecType(right.dataType).get
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lF, rF)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Kernels.l2sq($a, $b, $lF, $rF)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
  override def prettyName: String = "l2_sq"
}

/** sq8_adist(array<float>, array<int>, array<double>, array<double>) →
  * double: the fused SQ8 asymmetric distance (see [[Kernels.sq8Adist]]
  * for the bit-exactness contract with the recon + l2_sq composition).
  */
case class Sq8Adist(first: Expression, second: Expression,
    third: Expression, fourth: Expression, levels: Int)
  extends QuaternaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _),
            ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"sq8_adist expects (array<float>, array<int>, array<double>, " +
          s"array<double>), got ${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString}, ${d.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(q: Any, c: Any, mn: Any, mx: Any): Any =
    Kernels.sq8Adist(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData], levels)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, c, mn, mx) =>
      s"graft.functions.Kernels.sq8Adist($q, $c, $mn, $mx, $levels)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Sq8Adist =
    copy(first = a, second = b, third = c, fourth = d)
  override def prettyName: String = "sq8_adist"
}

/** Column-API wrappers + SQL registration. */
object GraftFunctions {
  import org.apache.spark.sql.graftshim.Shim.{toColumn, toExpr}

  def minhashes(c: Column, k: Int): Column = toColumn(MinHashes(toExpr(c), k))
  def shingle_hashes(c: Column, n: Int): Column =
    toColumn(ShingleHashes(toExpr(c), n))
  def shingle_minhashes(c: Column, n: Int, k: Int): Column =
    toColumn(ShingleMinHashes(toExpr(c), n, k))
  def cosine_sim(a: Column, b: Column): Column =
    toColumn(CosineSim(toExpr(a), toExpr(b)))
  def l2_sq(a: Column, b: Column): Column =
    toColumn(L2Sq(toExpr(a), toExpr(b)))
  def sq8_adist(q: Column, codes: Column, mns: Column, mxs: Column,
      levels: Int): Column =
    toColumn(Sq8Adist(toExpr(q), toExpr(codes), toExpr(mns), toExpr(mxs),
      levels))
  def simhash64(c: Column): Column = toColumn(SimHash64(toExpr(c)))
  def deletion_neighborhood(c: Column, tau: Int): Column =
    toColumn(DeletionNeighborhood(toExpr(c), tau))
  def zorder64(a: Column, b: Column): Column =
    toColumn(ZOrder64(toExpr(a), toExpr(b)))
  def sorted_inter_count(a: Column, b: Column): Column =
    toColumn(SortedInterCount(toExpr(a), toExpr(b)))

  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  /** Require exactly n args — a wrong arity surfaces as AnalysisException
    * (the SQL-layer contract), not a Scala IndexOutOfBounds.
    */
  private[functions] def arityCheck(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      analysisError(s"$fn expects $n arguments, got ${exprs.length}")

  /** Extract a foldable integral argument; non-literal / non-int args are
    * an analysis error, not a runtime ClassCastException.
    */
  private[functions] def intArgCheck(fn: String, e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other if other.foldable =>
      other.eval() match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
        case v => analysisError(
          s"$fn: argument '$name' must be an integer literal, got $v")
      }
    case _ => analysisError(
      s"$fn: argument '$name' must be a foldable integer literal")
  }

  /** (name, expression class, builder) for every native function — the
    * single source behind temp-function registration AND extension
    * injection, so the two surfaces can never expose different subsets.
    */
  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("minhashes", "graft.functions.MinHashes", exprs => {
      arityCheck("minhashes", exprs, 2)
      MinHashes(exprs.head, intArgCheck("minhashes", exprs(1), "k"))
    }),
    ("cosine_sim", "graft.functions.CosineSim", exprs => {
      arityCheck("cosine_sim", exprs, 2)
      CosineSim(exprs.head, exprs(1))
    }),
    ("l2_sq", "graft.functions.L2Sq", exprs => {
      arityCheck("l2_sq", exprs, 2)
      L2Sq(exprs.head, exprs(1))
    }),
    ("shingle_hashes", "graft.functions.ShingleHashes", exprs => {
      arityCheck("shingle_hashes", exprs, 2)
      ShingleHashes(exprs.head, intArgCheck("shingle_hashes", exprs(1), "n"))
    }),
    ("shingle_minhashes", "graft.functions.ShingleMinHashes", exprs => {
      arityCheck("shingle_minhashes", exprs, 3)
      ShingleMinHashes(exprs.head, intArgCheck("shingle_minhashes", exprs(1), "n"),
        intArgCheck("shingle_minhashes", exprs(2), "k"))
    }),
    ("simhash64", "graft.functions.SimHash64", exprs => {
      arityCheck("simhash64", exprs, 1)
      SimHash64(exprs.head)
    }),
    ("sorted_inter_count", "graft.functions.SortedInterCount", exprs => {
      arityCheck("sorted_inter_count", exprs, 2)
      SortedInterCount(exprs.head, exprs(1))
    }),
    ("zorder64", "graft.functions.ZOrder64", exprs => {
      arityCheck("zorder64", exprs, 2)
      ZOrder64(exprs.head, exprs(1))
    }),
    ("window_hashes", "graft.functions.WindowHashes", exprs => {
      arityCheck("window_hashes", exprs, 2)
      WindowHashes(exprs.head, intArgCheck("window_hashes", exprs(1), "k"))
    }),
    ("nfc_normalize", "graft.functions.NfcNormalize", exprs => {
      arityCheck("nfc_normalize", exprs, 1)
      NfcNormalize(exprs.head)
    }))

  /** Register every native function for spark.sql use in this session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      registry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }

  /** Inject every native function as a session builtin (the
    * `spark.sql.extensions` path — shared by both extensions classes).
    */
  def inject(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, cls, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls, name), b))
    }
}

/** SparkSessionExtensions hook — lets a deployment wire the full native
  * function set in via spark.sql.extensions=graft.functions.GraftExtensions.
  * (graft.plans.GraftExtensions injects these AND the optimizer rules —
  * the one-stop deployment entry point.)
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
