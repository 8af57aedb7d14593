package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Codegen'd vector kernels for the similarity operators.
  *
  * The Column-algebra forms (`aggregate(zip_with(...))`) are
  * INTERPRETED — Spark's higher-order functions never enter
  * whole-stage codegen, so every dot product walks the array through
  * a lambda interpreter. These expressions compute the SAME
  * left-to-right IEEE fold (bit-identical results, verified by
  * property tests against the HOF forms and by the DuckDB oracle,
  * whose `list_reduce` mirror also folds sequentially) inside
  * generated code.
  *
  * Element nulls are NOT handled (embedding vectors are dense arrays
  * by construction); a null ARRAY on either side yields NULL like any
  * binary expression.
  */
object VectorExprs {

  /** Left-to-right Σ double(aᵢ)·double(bᵢ). Callers guarantee equal
    * lengths ([[DotProduct]] nulls mismatches before reaching here;
    * [[nearestCentroid]] clamps to the centroid length).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  private val P = 2147483647L

  /** Fused random-hyperplane bucket: all `planes` sign bits in ONE
    * pass over the vector. Each plane's projection accumulates in
    * index order independently, so per-plane results are bit-identical
    * to the per-plane HOF fold `OpsSpec.lshBucketHof`, the parity
    * reference for [[graft.ops.Similarity.lshBucket]].
    */
  def lshBucket(a: ArrayData, planes: Int, seed: Long): Long = {
    val n = a.numElements()
    var result = 0L
    var p = 0
    while (p < planes) {
      val salt = seed + p * 10007L
      var acc = 0.0
      var i = 0
      while (i < n) {
        val j = (i + 1).toLong + salt // 1-based index, matching sequence(1, n)
        val comp = (((j * j) % P) * 48271L + j) % P / P.toDouble - 0.5
        acc += a.getFloat(i).toDouble * comp
        i += 1
      }
      if (acc > 0) result |= (1L << p)
      p += 1
    }
    result
  }

  /** Argmax-cosine centroid index for an IVF index: one pass for the
    * row norm, then one dot product per centroid; ties break to the
    * SMALLEST index (strict `>` keeps the first maximum). Each cosine
    * is `dot / (nv * norms(p))` — the same association as the SQL
    * mirror `dot / (sqrt(dot(v,v)) * sqrt(dot(c,c)))`, with `norms`
    * precomputed by [[centroidNorm]]'s identical fold — so the
    * comparison outcomes are bit-identical across engines. A
    * zero-norm vector would divide by zero (NaN, assigned index 0);
    * embedding corpora are dense by construction.
    */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Float]], norms: Array[Double]): Int = {
    val n = v.numElements()
    var sv = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; sv += x * x; i += 1 }
    val nv = math.sqrt(sv)
    var best = 0
    var bestCos = java.lang.Double.NEGATIVE_INFINITY
    var p = 0
    while (p < cents.length) {
      val c = cents(p)
      val m = math.min(n, c.length)
      var d = 0.0
      i = 0
      while (i < m) { d += v.getFloat(i).toDouble * c(i).toDouble; i += 1 }
      val cos = d / (nv * norms(p))
      if (cos > bestCos) { bestCos = cos; best = p }
      p += 1
    }
    best
  }

  /** ‖c‖ with the same left-to-right fold as [[dot]]. */
  def centroidNorm(c: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { val x = c(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Column entry point: codegen'd dot product over float arrays. */
  def dot_product(left: Column, right: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(left), Bridge.expression(right)))

  /** Column entry point: codegen'd nearest-centroid assignment. */
  def nearest_centroid(vec: Column, centroids: Array[Array[Float]]): Column = {
    require(centroids.nonEmpty, "nearest_centroid needs at least one centroid")
    Bridge.column(NearestCentroidExpr(Bridge.expression(vec), centroids,
      centroids.map(centroidNorm)))
  }

  /** Column entry point: codegen'd fused LSH bucket id. */
  def lsh_bucket(vec: Column, planes: Int, seed: Long): Column =
    Bridge.column(LshBucketExpr(Bridge.expression(vec), planes, seed))
}

/** Codegen'd dot product: `array<float> × array<float> → double`.
  * Length-mismatched inputs yield NULL — the same observable result as
  * the HOF parity form (`aggregate` over `zip_with`, whose null-padding
  * poisons the fold), so a malformed corpus surfaces as NULLs rather
  * than silently-truncated partial dot products.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null else VectorExprs.dot(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.expr.VectorExprs.dot($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd IVF centroid assignment: `array<float> → int`, the index
  * of the argmax-cosine centroid. The centroid matrix and its
  * precomputed norms ride into generated code as reference objects —
  * no row inflation, no join: assignment is map-only whole-stage
  * codegen, which is what makes the IVF index buildable in a single
  * corpus scan at 100 TB.
  */
case class NearestCentroidExpr(
    child: Expression, centroids: Array[Array[Float]], norms: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(v: Any): Any =
    VectorExprs.nearestCentroid(v.asInstanceOf[ArrayData], centroids, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val nRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.expr.VectorExprs.nearestCentroid($v, $cRef, $nRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd fused hyperplane-LSH bucket id: `array<float> → bigint`,
  * one array pass for all `planes` sign bits.
  */
case class LshBucketExpr(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override protected def nullSafeEval(v: Any): Any =
    VectorExprs.lshBucket(v.asInstanceOf[ArrayData], planes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.VectorExprs.lshBucket($v, $planes, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
