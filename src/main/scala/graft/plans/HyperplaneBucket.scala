package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Deterministic pseudo-random hyperplane weights shared by the
  * composable bucket expression ([[graft.operators.Similarity]]) and
  * the native one below: md5 of `"plane_dim"`, first 4 bytes mapped to
  * [-1, 1). Pure function of (plane, dim) — the oracle inlines the same
  * values as SQL literals. */
object Hyperplanes {
  def weight(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
    val h = digest.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    h / 2147483648.0 - 1.0
  }
}

/** Native Catalyst expression for the sign-of-projection LSH bucket id:
  * bit p is set iff `dot(vec, plane_p) >= 0`, projections accumulated
  * in the SAME left-fold double order as the composable
  * `aggregate(zip_with(vec, w, ...))` form — bit-identical bucket ids,
  * so the e2/d6 DuckDB oracles (which inline the same weights and fold
  * order) still reproduce them.
  *
  * The composable form evaluates nPlanes interpreted aggregate/zip_with
  * trees per row (each allocating a zipped array); this is one fused
  * primitive loop over a single unpacked double[].
  *
  * Degenerate inputs mirror the composable null semantics: a NULL
  * vector, a vector whose length differs from `dims`, or one containing
  * a null element all yield null projections on every plane →
  * `when(proj >= 0, bit).otherwise(0)` takes the otherwise branch →
  * bucket 0. The expression is therefore never null itself. */
case class HyperplaneBucket(child: Expression, nPlanes: Int, dims: Int)
  extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes must be in [1, 62], got $nPlanes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_bucket"

  // lazy: the Column is built before its child is resolved
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // weights flattened [plane * dims + dim]; lazy + transient so the
  // matrix is rebuilt per executor instead of shipped with the plan
  @transient private lazy val weights: Array[Double] = {
    val w = new Array[Double](nPlanes * dims)
    var p = 0
    while (p < nPlanes) {
      var d = 0
      while (d < dims) {
        w(p * dims + d) = Hyperplanes.weight(p, d)
        d += 1
      }
      p += 1
    }
    w
  }

  /** Row kernel shared by interpreted eval and codegen. */
  def compute(arr: ArrayData): Long = {
    val len = arr.numElements()
    if (len != dims) return 0L // zip_with length-mismatch pads null -> no bit
    val v = new Array[Double](dims)
    val float = isFloat // one lazy-val read per row, not per element
    var d = 0
    while (d < dims) {
      if (arr.isNullAt(d)) return 0L // null element -> null proj -> no bit
      v(d) = if (float) arr.getFloat(d).toDouble else arr.getDouble(d)
      d += 1
    }
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      val base = p * dims
      d = 0
      while (d < dims) { // left fold, same order as aggregate(zip_with(...))
        proj += v(d) * weights(base + d)
        d += 1
      }
      if (proj >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("hyperplaneBucket", this,
      classOf[HyperplaneBucket].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = ${childGen.isNull} ? 0L : $ref.compute(${childGen.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}
