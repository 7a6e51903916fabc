package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the similarity/dedup hot paths.
  *
  * The higher-order-function formulations (`zip_with` + `aggregate`) are
  * correct but interpreted per element with an array allocation per row —
  * measured 130+ s for the sf0.1 all-pairs cosine. These expressions run a
  * tight primitive loop inside whole-stage codegen (DotProduct) or a single
  * eval pass (MinHashSig/SimHash64 — one traversal instead of k), which is
  * the preference-order (b) answer from SURVEY.md §7.2: a custom
  * `Expression` before any custom physical operator.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are produced by graft's own operators as array<double>
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, not fixed locals: two DotProducts in one generated
      // function (e.g. a collapsed norm+dot projection) otherwise emit
      // "Redefinition of local variable" and the WHOLE stage silently
      // falls back to interpreted execution — Spark logs the compile
      // error at WARN and keeps going, so the only symptom is speed
      val n = ctx.freshName("dpN")
      val acc = ctx.freshName("dpAcc")
      val i = ctx.freshName("dpI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product over two tinyint arrays — v7's per-pair hot
  * loop and quantizedEmbeddings' norm: Σ_i a_i·b_i as a long, in a tight
  * primitive loop inside whole-stage codegen. Replaces the
  * `aggregate(zip_with(…))` HOF formulation: higher-order functions are
  * CodegenFallback — an interpreted 64-element lambda tree plus an array
  * allocation per PAIR, evaluated Q×N times — which the r9 verdict
  * measured at ~4× the cost of the identical physical shape with the
  * codegen'd DotProduct (v7 1.61 s vs v5 0.42 s at sf0.1). Integer sums
  * are exact and order-free, so scores stay bit-identical to the HOF
  * form (spec-asserted). */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"

  // length-mismatched or null-slotted inputs yield NULL (the HOF's
  // semantics: zip_with null-pads the shorter array and a null product
  // poisons the aggregate), so the expression is nullable even over
  // non-null inputs
  override def nullable: Boolean = true

  // the loops read raw bytes — any other element type must die at
  // ANALYSIS, not reinterpret UnsafeArrayData bytes (the JlProject guard)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"int_dot expects (array<tinyint>, array<tinyint>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getByte(i).toLong * y.getByte(i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for every local — the DotProduct redefinition lesson
      val n = ctx.freshName("idN")
      val acc = ctx.freshName("idAcc")
      val i = ctx.freshName("idI")
      // schemas proven null-free skip the per-element branch entirely
      val mayHoldNulls =
        left.dataType.asInstanceOf[ArrayType].containsNull ||
          right.dataType.asInstanceOf[ArrayType].containsNull
      val nullSlotCheck =
        if (mayHoldNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullSlotCheck
         |    $acc += (long) $a.getByte($i) * (long) $b.getByte($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}

/** One-pass word-n-gram shingle hashing straight off the document bytes:
  * token boundaries at space bytes (0x20 never occurs inside a multi-byte
  * UTF-8 sequence, so the byte scan is encoding-safe), one 64-bit hash per
  * token, n consecutive token hashes mixed (order-sensitively) into one
  * shingle key, then sort + in-place unique for the per-document DISTINCT.
  *
  * This replaces the HOF pipeline `array_distinct(transform(sequence, i =>
  * concat_ws(" ", slice(toks, i, n))))` + `xxhash64(s)`: lambda HOFs run
  * interpreted per element with a slice copy and a string build per shingle
  * — measured ~2 s of the sf0.1 d3 (and again in d6/d7/d4, which re-derive
  * the index). Here no shingle string is ever materialized; the whole doc
  * is one eval pass. Semantics vs the DuckDB oracle are unchanged: the
  * oracle keys shingles by their text, we key by a collision-resistant
  * 64-bit hash of the token n-tuple — same distinct-set/df counts whp
  * (cross-corpus collision odds ~N²/2⁶⁵, the same dictionary-encoding
  * argument as the previous xxhash64-of-string key).
  *
  * Tokenization matches `split(text, " ")`/DuckDB `string_split(text,' ')`
  * exactly: every single space is a boundary; consecutive spaces yield
  * empty tokens; fewer than n tokens yields an empty array.
  *
  * `positional = true` keeps one hash per START POSITION (no sort, no
  * distinct): element j is the key of the shingle starting at token j —
  * the span-dedup shape (d14), where position identity matters and the
  * per-document set semantics would destroy it. */
case class ShingleHashes(child: Expression, n: Int,
                         positional: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  /** 64-bit finalizer (murmur3 fmix64): full avalanche per mixed-in token
    * hash keeps the sequential combine order-sensitive and well spread. */
  @inline private def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    var spaces = 0
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val nt = spaces + 1
    if (nt < n) return new GenericArrayData(Array.empty[Long])
    // one 64-bit hash per token (two murmur32 rounds, as SimHash64 does)
    val tok = new Array[Long](nt)
    var t = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == 0x20) {
        val lo = Murmur3_x86_32
          .hashUnsafeBytes(base, off + start, i - start, 42).toLong & 0xffffffffL
        val hi = Murmur3_x86_32
          .hashUnsafeBytes(base, off + start, i - start, 977).toLong & 0xffffffffL
        tok(t) = (hi << 32) | lo
        t += 1
        start = i + 1
      }
      i += 1
    }
    val m = nt - n + 1
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var h = -7046029254386353131L // arbitrary odd seed
      var q = 0
      while (q < n) { h = fmix64(h ^ tok(j + q)); q += 1 }
      out(j) = h
      j += 1
    }
    if (positional) return new GenericArrayData(out)
    // per-document DISTINCT: sort + in-place unique (order is irrelevant
    // downstream — the array is exploded into groupBy/join keys)
    java.util.Arrays.sort(out)
    var w = 0
    j = 0
    while (j < m) {
      if (j == 0 || out(j) != out(j - 1)) { out(w) = out(j); w += 1 }
      j += 1
    }
    new GenericArrayData(if (w == m) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** One-pass MinHash signature over a shingle set: for each shingle the
  * 64-bit hash is computed once and k affine transforms update k running
  * minima — versus k full traversals (and k hash recomputations) in the
  * HOF formulation. Accepts either array<string> shingles
  * (TextFunctions.shingles) or pre-hashed array<long> shingle keys
  * (ShingleHashes) — the long path skips string hashing entirely. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private val P = MinHashSig.P
  private val as: Array[Long] = Array.tabulate(k)(MinHashSig.a)
  private val bs: Array[Long] = Array.tabulate(k)(MinHashSig.b)

  private lazy val longInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h =
        if (longInput) java.lang.Math.floorMod(arr.getLong(i), P)
        else {
          val s = arr.getUTF8String(i)
          java.lang.Math.floorMod(
            Murmur3_x86_32.hashUnsafeBytes(
              s.getBaseObject, s.getBaseOffset, s.numBytes(), 42).toLong, P)
        }
      var j = 0
      while (j < k) {
        val v = java.lang.Math.floorMod(as(j) * h + bs(j), P)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** The affine-family constants are the oracle contract: d4's DuckDB SQL
  * embeds them as literals, so they live here as the single source both
  * the expression and the SQL generator read. */
object MinHashSig {
  val P = 2147483647L // 2^31-1
  def a(i: Int): Long = 1103515245L * (i + 1) % P
  def b(i: Int): Long = 12345L * (i + 7) % P
}

/** Shared md5 plumbing for the oracle-replayable hash family: a reused
  * per-thread digest and the token-boundary walk (split-on-0x20 semantics,
  * empty tokens preserved — identical to `split(text, " ")`). */
private[plans] object Md5Hashing {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def digest(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val d = md.get(); d.reset(); d.update(bytes, off, len); d.digest()
  }
  /** Heap-backed UTF8Strings expose their backing array directly (the
    * ShingleHashes zero-copy discipline — no per-row document copy on
    * the hot scan); off-heap strings copy once per row. Returns
    * (bytes, offset-of-string-start, length). */
  def materialize(s: UTF8String): (Array[Byte], Int, Int) = {
    val len = s.numBytes()
    s.getBaseObject match {
      case a: Array[Byte] =>
        (a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, len)
      case _ => (s.getBytes, 0, len)
    }
  }
  /** Token start offsets (relative to the string start) plus a sentinel
    * end: starts(t)..starts(t+1)-2 is token t's byte span (the -1 skips
    * the separating space). */
  def tokenStarts(bytes: Array[Byte], off: Int, len: Int): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(off + i) == 0x20) spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(off + i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(t) = len + 1
    starts
  }
  /** Big-endian unsigned int from digest bytes [off, off+4) — the value of
    * hex digits [2·off+1, 2·off+8] of the md5 hex string, the same number
    * `conv(substring(md5(x), 2·off+1, 8), 16, 10)` yields. */
  def head32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
}

/** One-pass md5 shingle hashes: element j is the value of the FIRST 8 HEX
  * DIGITS of md5 over the raw byte span of the n-token shingle starting at
  * token j — bit-identical to
  * `conv(substring(md5(concat_ws(' ', slice(split(text,' '), j+1, n))), 1, 8), 16, 10)`
  * (a shingle's concat_ws-joined text IS the raw byte span between its
  * first token's start and last token's end, empty tokens included), but
  * one native pass instead of an interpreted HOF lambda + md5 + conv per
  * element — the d4-md5 registry path's answer to the v3 lesson
  * (interpreted per-element trees were that query's real scale cost).
  * Returns an EMPTY array when the document has fewer than n tokens. */
case class Md5SpanHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_span_hashes"

  override def nullSafeEval(input: Any): Any = {
    val (bytes, off, len) =
      Md5Hashing.materialize(input.asInstanceOf[UTF8String])
    val starts = Md5Hashing.tokenStarts(bytes, off, len)
    val nt = starts.length - 1
    if (nt < n) return new GenericArrayData(Array.empty[Long])
    val m = nt - n + 1
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val from = starts(j)
      val until = starts(j + n) - 1 // end of token j+n-1
      val d = Md5Hashing.digest(bytes, off + from, until - from)
      out(j) = Md5Hashing.head32(d, 0)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Md5SpanHashes =
    copy(child = c)
}

/** One-pass md5 SimHash: per token, hi/lo are the values of hex digits
  * 1-8 / 9-16 of md5(token); each of the 64 bits collects a ±1 vote per
  * token occurrence; the returned struct packs the majority signs
  * (tie → 0) of the hi and lo halves. Bit-identical to the SQL
  * formulation (explode tokens → conv(substring(md5)) → 64 SUM votes →
  * CASE pack) the d5 oracle replays, but with NO explode and NO
  * aggregation — the signature never touches a shuffle. */
case class Md5SimHashPair(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("hi", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lo", LongType, nullable = false)))
  override def prettyName: String = "md5_simhash_pair"

  override def nullSafeEval(input: Any): Any = {
    val (bytes, off, len) =
      Md5Hashing.materialize(input.asInstanceOf[UTF8String])
    val starts = Md5Hashing.tokenStarts(bytes, off, len)
    val nt = starts.length - 1
    val votes = new Array[Int](64)
    var t = 0
    while (t < nt) {
      val from = starts(t)
      val until = starts(t + 1) - 1
      val d = Md5Hashing.digest(bytes, off + from, until - from)
      val hi = Md5Hashing.head32(d, 0)
      val lo = Md5Hashing.head32(d, 4)
      var b = 0
      while (b < 32) {
        if (((hi >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        if (((lo >>> b) & 1L) == 1L) votes(32 + b) += 1 else votes(32 + b) -= 1
        b += 1
      }
      t += 1
    }
    var hiSig = 0L
    var loSig = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) hiSig |= (1L << b)
      if (votes(32 + b) > 0) loSig |= (1L << b)
      b += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(hiSig, loSig)
  }

  override protected def withNewChildInternal(c: Expression): Md5SimHashPair =
    copy(child = c)
}

/** One-pass 64-bit SimHash over an array<string> token list: per-bit
  * majority vote of token hashes in a single traversal (the HOF version
  * re-aggregates the token array 64 times). Token hash = two rounds of
  * murmur3 to fill 64 bits. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  // input: array<string> tokens (produced by TextFunctions.tokens)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      val lo = Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes(), 42).toLong & 0xffffffffL
      val hi = Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes(), 977).toLong & 0xffffffffL
      val h = (hi << 32) | lo
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** ADC lookup-sum for product quantization (v10/v15's per-candidate hot
  * loop): Σ_m lut[m][codes[m]], with `lut` the per-query M×K dot table
  * (array<array<double>>) and `codes` the candidate's M byte codes
  * (array<tinyint>). Replaces the `aggregate(sequence(0, M-1), …)` HOF
  * over nested element_at, which evaluates an interpreted lambda tree
  * and allocates per (candidate, query) pair — the expression the r6
  * verdict fingered for v10's bench drift. Summation is sequential in
  * m, the same left-fold order as the HOF and the oracle's
  * `list(t ORDER BY m)` reduce, so scores stay bit-identical. Runs
  * inside whole-stage codegen. */
case class AdcScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_score"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      s += lut.getArray(i).getDouble(codes.getByte(i).toInt)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) => {
      // freshName for every local — the DotProduct redefinition lesson
      val m = ctx.freshName("adcM")
      val acc = ctx.freshName("adcAcc")
      val i = ctx.freshName("adcI")
      s"""
         |int $m = $c.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  $acc += $l.getArray($i).getDouble((int) $c.getByte($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points. */
/** Random-hyperplane sign signature for ±1 planes packed as bitmasks:
  * bit j of the output = sign(Σ_i (±1)_{ij} · v_i), where plane j's signs
  * come from `masks(j)` (bit i set ⇒ +v_i, clear ⇒ −v_i). One traversal
  * of the vector per plane in a primitive loop — the 64-separate-
  * DotProduct-expression formulation this replaces evaluated an
  * interpreted tree with a CreateArray per plane per ROW (measured
  * 4.8 s for 20k rows at 64 planes; this runs the same 4096 adds in
  * microseconds). Up to 64 planes (one long signature). */
case class PlaneSignBits(child: Expression, masks: IndexedSeq[Long])
    extends UnaryExpression with CodegenFallback {

  require(masks.length <= 64, "one-long signature holds at most 64 planes")
  override def dataType: DataType = LongType
  override def prettyName: String = "plane_sign_bits"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // cap at 64: the dot(v, plane) formulation this replaces summed over
    // min(|v|, |plane|) elements (planes are 64-long), so dimensions past
    // 63 must be IGNORED, not subtracted
    val n = math.min(arr.numElements(), 64)
    var sig = 0L
    var j = 0
    while (j < masks.length) {
      val m = masks(j)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = arr.getDouble(i)
        if (((m >>> i) & 1L) == 1L) acc += x else acc -= x
        i += 1
      }
      if (acc >= 0) sig |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): PlaneSignBits =
    copy(child = c)
}

/** Johnson–Lindenstrauss ±1 projection of a quantized (integer) vector:
  * output coordinate j = Σ_i (mask_j bit i set ? +v_i : −v_i) over the
  * first min(|v|, 64) dimensions — exact integer sums, order-irrelevant.
  * One fused primitive loop per row. This replaces v23's first cut, a
  * 16-column tree of 64 signed element_at terms each: per-ROW cost was
  * never the problem there, but the 1024-node tree made whole-stage
  * codegen COMPILE ~2 s per invocation — a fixed tax at EVERY scale rung
  * (measured 2.4 s at sf0.001 where the data work is microseconds). An
  * interpreted CodegenFallback loop keeps the janino input tiny and does
  * the same 1024 adds in primitives (the PlaneSignBits precedent). */
case class JlProject(child: Expression, masks: IndexedSeq[Long])
    extends UnaryExpression with CodegenFallback {

  require(masks.nonEmpty, "at least one output dimension")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "jl_project"

  // the eval loop reads raw longs — any other element type must die at
  // ANALYSIS, not reinterpret UnsafeArrayData bytes into wrong projections
  // at runtime (the FilterPositions guard, same hazard)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"jl_project expects array<bigint>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), 64)
    val out = new Array[Long](masks.length)
    var i = 0
    while (i < n) {
      // null slots contribute nothing (the dot-product formulation this
      // replaces treated a null coordinate as absent, not as garbage)
      if (!arr.isNullAt(i)) {
        val v = arr.getLong(i)
        var j = 0
        while (j < masks.length) {
          if (((masks(j) >>> i) & 1L) == 1L) out(j) += v else out(j) -= v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): JlProject =
    copy(child = c)
}

/** Drop the tokens at the given 1-based positions: `filter_positions(
  * toks, cut)` returns toks minus every index listed in cut, order
  * preserved — d14's per-document span-removal rebuild. One linear walk
  * with a boolean mask (O(n + |cut|) per doc); the HOF formulation
  * (`filter(w, (x, i) -> NOT array_contains(cut, i))`) is O(n·|cut|)
  * per doc — quadratic for a document that is mostly duplicated span,
  * exactly the doc this operator exists to cut. Out-of-range cut
  * entries are ignored (a span's tail can exceed a short doc's length
  * only if the caller mis-built spans; tolerating it keeps the
  * expression total). */
case class FilterPositions(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = left.dataType
  override def prettyName: String = "filter_positions"

  // the eval walk reads UTF8Strings and long positions — any other
  // array element type must die at ANALYSIS, not reinterpret bytes at
  // runtime (UnsafeArrayData would read a long as a string offset)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"filter_positions expects (array<string>, array<bigint>), " +
              s"got ($l, $r)")
    }

  override def nullSafeEval(toks: Any, cut: Any): Any = {
    val ts = toks.asInstanceOf[ArrayData]
    val cs = cut.asInstanceOf[ArrayData]
    val n = ts.numElements()
    val drop = new Array[Boolean](n + 1)
    var i = 0
    while (i < cs.numElements()) {
      val p = cs.getLong(i)
      if (p >= 1 && p <= n) drop(p.toInt) = true
      i += 1
    }
    val out = new Array[AnyRef](n)
    var k = 0
    i = 0
    while (i < n) {
      if (!drop(i + 1)) { out(k) = ts.getUTF8String(i); k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FilterPositions =
    copy(left = newLeft, right = newRight)
}

/** Axis sign bits: bit i set iff v_i > 0 (the v18 binary-quantization
  * code), for up to the first 64 dimensions — one primitive loop instead
  * of 64 when(element_at…) branches (measured 0.94 s vs microseconds for
  * 20k rows). */
case class ElementSignBits(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "element_sign_bits"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), 64)
    var sig = 0L
    var i = 0
    while (i < n) {
      if (arr.getDouble(i) > 0) sig |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): ElementSignBits =
    copy(child = c)
}

/** K-probe bit-array membership test for p14's md5-twin bloom: probe
  * positions follow the Kirsch–Mitzenmacher double-hash EXACTLY as the
  * column formulation it replaces — h1 = s % m, step = 2·⌊s/2²⁰⌋+1 (the
  * ⌊·⌋ via the same double division Catalyst inserted for `s / lit`),
  * pos_j = (h1 + j·step) % m, bit = (bits[⌊pos/64⌋] >> (pos%64)) & 1 —
  * so every emitted value is bit-identical to the old
  * `positions(s).map(element_at…).reduce(_ && _)` conjunction, and the
  * oracle's replay is untouched. What changes is the PLAN: the old form
  * embedded the 16384-long bit array as a Literal in EVERY conjunct —
  * six 128 KB literals made the filter's expression tree ~1.5 MB
  * (p14's r12 plan dump), which every Catalyst transform, canonicalize,
  * and AQE per-stage re-optimization re-walked (measured: the action
  * re-ran 2.6 s on a 0.28 s explode). Here the array lives ONCE in the
  * codegen references, the tree is one node, and the probe loop is a
  * tight short-circuiting whole-stage-codegen loop (same left-to-right
  * And order). Positions are taken with `floorMod`, which equals `%` on
  * the non-negative md5 keys, so a negative key probes in-range bits
  * instead of indexing a negative word. */
case class BloomBitsProbe(child: Expression, bits: IndexedSeq[Long],
                          m: Long, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_bits_probe"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"bloom_bits_probe expects bigint keys, got $other")
    }

  private lazy val bitsArr: Array[Long] = bits.toArray

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[Long]
    val h1 = s % m
    // the double division mirrors Catalyst's implicit cast for
    // `s / lit(1L << 20)` — exact for the 32-bit md5 keys this probes
    val step = ((s.toDouble / 1048576.0d).toLong) * 2L + 1L
    var hit = true
    var j = 0
    while (j < k && hit) {
      val p = Math.floorMod(h1 + step * j, m)
      hit = ((bitsArr((p.toDouble / 64.0d).toInt) >> (p % 64L).toInt)
        & 1L) == 1L
      j += 1
    }
    java.lang.Boolean.valueOf(hit)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val arr = ctx.addReferenceObj("bloomBits", bitsArr, "long[]")
      // freshName for every local — the DotProduct redefinition lesson
      val h1 = ctx.freshName("bpH1")
      val step = ctx.freshName("bpStep")
      val hit = ctx.freshName("bpHit")
      val j = ctx.freshName("bpJ")
      val p = ctx.freshName("bpP")
      s"""
         |long $h1 = $s % ${m}L;
         |long $step = ((long) ((double) $s / 1048576.0D)) * 2L + 1L;
         |boolean $hit = true;
         |for (int $j = 0; $j < $k && $hit; $j++) {
         |  long $p = java.lang.Math.floorMod($h1 + $step * (long) $j, ${m}L);
         |  $hit = (($arr[(int) ((double) $p / 64.0D)]
         |    >> ((int) ($p % 64L))) & 1L) == 1L;
         |}
         |${ev.value} = $hit;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): BloomBitsProbe =
    copy(child = c)
}

object VectorExpressions {
  import ColumnBridge.{column, expression}
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def intDot(a: Column, b: Column): Column =
    column(IntDot(expression(a), expression(b)))
  def minhashSig(shingles: Column, k: Int): Column =
    column(MinHashSig(expression(shingles), k))
  def shingleHashes(text: Column, n: Int): Column =
    column(ShingleHashes(expression(text), n))
  def shingleHashesPos(text: Column, n: Int): Column =
    column(ShingleHashes(expression(text), n, positional = true))
  def simhash64(toks: Column): Column =
    column(SimHash64(expression(toks)))
  def md5SpanHashes(text: Column, n: Int): Column =
    column(Md5SpanHashes(expression(text), n))
  def md5SimHashPair(text: Column): Column =
    column(Md5SimHashPair(expression(text)))
  def jlProject(quantized: Column, masks: IndexedSeq[Long]): Column =
    column(JlProject(expression(quantized), masks))
  def filterPositions(toks: Column, cut: Column): Column =
    column(FilterPositions(expression(toks), expression(cut)))
  def planeSignBits(v: Column, masks: IndexedSeq[Long]): Column =
    column(PlaneSignBits(expression(v), masks))
  def elementSignBits(v: Column): Column =
    column(ElementSignBits(expression(v)))
  def adcScore(lut: Column, codes: Column): Column =
    column(AdcScore(expression(lut), expression(codes)))
  def bloomBitsProbe(s: Column, bits: IndexedSeq[Long],
                     m: Long, k: Int): Column =
    column(BloomBitsProbe(expression(s), bits, m, k))
}
