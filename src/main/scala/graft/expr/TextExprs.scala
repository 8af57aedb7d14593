package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd text/dedup kernels. The Column-algebra forms
  * (`transform` + `concat_ws`/`element_at`, k× `array_min(transform)`)
  * are INTERPRETED — higher-order functions never enter whole-stage
  * codegen — and they are the map-side cost of every dedup operator at
  * 100 TB: shingling walks the token array through a lambda
  * interpreter per n-gram, and a k-permutation minhash signature
  * re-walks the hash array k times. These expressions compute
  * identical results (integer math is exact; string concatenation is
  * byte-equal; property-tested against the HOF forms) in one
  * generated-code pass.
  */
object TextExprs {

  private val SPACE = UTF8String.fromString(" ")

  /** Word n-gram shingles over a token array: element i =
    * tokens[i..i+n) joined with ' '; empty array when there are fewer
    * than n tokens. Byte-equal to the `transform`+`concat_ws` form
    * (concat_ws over non-null strings = plain separator join).
    */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val num = toks.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](num - n + 1)
    var i = 0
    while (i < num - n + 1) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(SPACE, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val MhP = 2147483647L // 2^31 − 1

  /** MinHash signature: k affine-mix minima over a base-hash array in
    * ONE pass (k accumulators), vs k interpreted `array_min(transform)`
    * walks. mix_i(h) = (h·(2i+1001) + (9176i+17)) mod P — identical
    * integer math to `OpsSpec.minhashMix`, its parity reference (inputs
    * are non-negative, so `%` equals `pmod`). Empty input → k nulls,
    * matching `array_min(empty) = NULL`.
    */
  def minhashSignature(hashes: ArrayData, k: Int): ArrayData = {
    val num = hashes.numElements()
    val out = new Array[Any](k)
    if (num == 0) return new GenericArrayData(out) // k nulls
    var i = 0
    while (i < k) {
      val a = 2L * i + 1001L
      val b = 9176L * i + 17L
      var mn = Long.MaxValue
      var e = 0
      while (e < num) {
        val m = (hashes.getLong(e) * a + b) % MhP
        if (m < mn) mn = m
        e += 1
      }
      out(i) = mn
      i += 1
    }
    new GenericArrayData(out)
  }

  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Base minhash hashes for a shingle array in one pass: per element,
    * MD5 → first 15 hex digits as a 60-bit integer → mod 2³¹−1.
    * Value-identical to [[graft.ops.Dedup.shingleBaseHash]]
    * (`conv(substring(md5(s),1,15),16,10) % P`): the first 15 hex
    * digits ARE the first 60 bits of the digest, i.e. the first 8
    * bytes read big-endian shifted right by one nibble. Replaces an
    * interpreted `transform` lambda running the md5/conv expression
    * tree per shingle.
    */
  def shingleHashes(shingles: ArrayData): ArrayData = {
    val num = shingles.numElements()
    val md = digest.get()
    val out = new Array[Any](num)
    var i = 0
    while (i < num) {
      md.reset()
      val d = md.digest(shingles.getUTF8String(i).getBytes)
      val hi =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(i) = (hi >>> 4) % MhP
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of array elements contained in `set` — one pass, no
    * per-element lambda dispatch. Matches
    * `size(filter(arr, w => w.isin(set)))` for non-null elements.
    */
  def countInSet(toks: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val num = toks.numElements()
    var c = 0
    var i = 0
    while (i < num) {
      if (set.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Highest single-token occurrence count in one hash-map pass — the
    * Gopher-style "top n-gram fraction" numerator. The HOF parity form
    * (`array_max` over a per-distinct-token `size(filter(...))`) is
    * O(distinct · tokens) in the lambda interpreter; this is O(tokens).
    * Empty array → 0. UTF8String keys are row-lifetime views — safe
    * here because the map never outlives the call.
    */
  def topTokenCount(toks: ArrayData): Long = {
    val num = toks.numElements()
    if (num == 0) return 0L
    val m = new java.util.HashMap[UTF8String, Integer](num * 2)
    var best = 0
    var i = 0
    while (i < num) {
      val c = m.merge(toks.getUTF8String(i), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > best) best = c.intValue
      i += 1
    }
    best.toLong
  }

  private val FpMod = 1000000007L

  /** Polynomial rolling fingerprint over a token array:
    * h ← (h·31 + code(w)) mod 1e9+7 with code = first 8 hex digits of
    * MD5 (= the first 4 digest bytes, big-endian). Value-identical to
    * the `aggregate(transform(...))` fold `OpsSpec.fingerprintHof` —
    * exact integer math, same left-to-right order — without the
    * interpreted md5 lambda per token.
    */
  def tokenFingerprint(toks: ArrayData): Long = {
    val num = toks.numElements()
    val md = digest.get()
    var h = 0L
    var i = 0
    while (i < num) {
      md.reset()
      val d = md.digest(toks.getUTF8String(i).getBytes)
      val code = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h = (h * 31 + code) % FpMod
      i += 1
    }
    h
  }

  /** Column entry point: codegen'd shingles over a token array. */
  def shingles(toks: Column, n: Int): Column =
    Bridge.column(ShinglesExpr(Bridge.expression(toks), n))

  /** Column entry point: codegen'd in-set element count. */
  def count_in_set(toks: Column, words: Seq[String]): Column =
    Bridge.column(CountInSetExpr(Bridge.expression(toks), words))

  /** Column entry point: codegen'd rolling-hash token fingerprint. */
  def token_fingerprint(toks: Column): Column =
    Bridge.column(TokenFingerprintExpr(Bridge.expression(toks)))

  /** Column entry point: codegen'd per-element base minhash hashes. */
  def shingle_hashes(shingles: Column): Column =
    Bridge.column(ShingleHashesExpr(Bridge.expression(shingles)))

  /** Column entry point: codegen'd one-pass minhash signature. */
  def minhash_signature(hashes: Column, k: Int): Column =
    Bridge.column(MinHashSignatureExpr(Bridge.expression(hashes), k))

  /** Column entry point: codegen'd max single-token frequency. */
  def top_token_count(toks: Column): Column =
    Bridge.column(TopTokenCountExpr(Bridge.expression(toks)))
}

/** Codegen'd n-gram shingling: `array<string> → array<string>`. */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "shingle width must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "shingles"

  override protected def nullSafeEval(v: Any): Any =
    TextExprs.shingles(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.TextExprs.shingles($v, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd in-set count: `array<string> → int`, the fused form of
  * `size(filter(arr, isin(words)))`. The word set is shipped into
  * generated code as a reference object.
  */
case class CountInSetExpr(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "count_in_set"

  override protected def nullSafeEval(v: Any): Any =
    TextExprs.countInSet(v.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSet", set, "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    defineCodeGen(ctx, ev, v => s"graft.expr.TextExprs.countInSet($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd rolling-hash fingerprint: `array<string> → bigint`. */
case class TokenFingerprintExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "token_fingerprint"

  override protected def nullSafeEval(v: Any): Any =
    TextExprs.tokenFingerprint(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.TextExprs.tokenFingerprint($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd per-element base minhash hash:
  * `array<string> → array<bigint>`.
  */
case class ShingleHashesExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(v: Any): Any =
    TextExprs.shingleHashes(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.TextExprs.shingleHashes($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd one-pass k-permutation minhash signature:
  * `array<bigint> → array<bigint>` of length k.
  */
case class MinHashSignatureExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, "signature length must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(v: Any): Any =
    TextExprs.minhashSignature(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.TextExprs.minhashSignature($v, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd max single-token frequency: `array<string> → bigint`. */
case class TopTokenCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "top_token_count"

  override protected def nullSafeEval(v: Any): Any =
    TextExprs.topTokenCount(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.TextExprs.topTokenCount($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
