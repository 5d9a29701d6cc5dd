package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions.{lit, typedLit}
import org.apache.spark.sql.types._

/** All OR-amplification sign-LSH bucket keys of an embedding in ONE call:
  * element t is `(t << 48) | bucket_t`, where bucket_t packs the sign
  * bits of the vector against table t's hyperplanes.
  *
  * The declarative form (an `array(...)` of tables × planes
  * literal-vector dot products) is correct but embeds tables × planes ×
  * dim literal doubles in the projection — at (16, 4, 64) that is a
  * ~4k-leaf tree whose generated code blows past the JIT-able method
  * size and drops the whole stage to interpreted evaluation, costing ~1s
  * of the q34b bucket projection at sf0.1 (measured; the same trap
  * [[NearestCells.nearest]] avoids). Here the hyperplane matrix is ONE
  * foldable literal child folded into a flat primitive array carried as
  * a codegen reference object; the kernel is a tight static loop shared
  * by eval and generated code.
  *
  * Sign semantics match [[graft.pipeline.Similarity.bucketOf]] exactly:
  * bit p set iff dot(v, plane) > 0 strictly (NaN → unset).
  */
case class SignBucketsExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  @transient private lazy val rows: Array[Array[Double]] = {
    val arr = second.eval().asInstanceOf[ArrayData]
    val m = Array.tabulate(arr.numElements())(i =>
      arr.getArray(i).toDoubleArray())
    m.find(_.length != m(0).length).foreach(r =>
      throw new IllegalArgumentException(
        s"sign_buckets: ragged hyperplane matrix (row of length " +
        s"${r.length} vs ${m(0).length})"))
    m
  }
  @transient private lazy val planes: Int =
    third.eval().asInstanceOf[Number].intValue()
  @transient private lazy val tables: Int = {
    require(planes > 0 && planes < 48,
      s"sign_buckets: planes=$planes outside (0, 48)")
    require(rows.length % planes == 0,
      s"sign_buckets: ${rows.length} hyperplane rows not a multiple of " +
      s"planes=$planes")
    rows.length / planes
  }
  @transient private lazy val dim: Int =
    if (rows.isEmpty) 0 else rows(0).length
  @transient private lazy val flat: Array[Double] = rows.flatten

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _                                                  => false
    }
    val matOk = second.foldable && (second.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _                                      => false
    })
    val planesOk = third.foldable && third.dataType == IntegerType
    if (vecOk && matOk && planesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sign_buckets expects (array<float|double>, foldable " +
      s"array<array<double>>, foldable int); got (${first.dataType.sql}, " +
      s"${second.dataType.sql}, ${third.dataType.sql})")
  }

  override def nullSafeEval(v: Any, m: Any, p: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(SignBuckets.buckets(
      v.asInstanceOf[ArrayData], isFloat, flat, dim, planes, tables))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      val flatRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray(
         |    graft.functions.SignBuckets.buckets(
         |      $v, $isFloat, $flatRef, $dim, $planes, $tables));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SignBucketsExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SignBuckets {

  /** Column API: packed (table << 48 | bucket) keys for every table.
    * `hps(t)(p)` is table t's plane p. */
  def apply(vec: Column, hps: Array[Array[Array[Double]]]): Column =
    column(SignBucketsExpr(expression(vec),
      expression(typedLit(hps.flatten.map(_.toSeq).toSeq)),
      expression(lit(hps(0).length))))

  /** Tight-loop kernel shared by eval and generated code. */
  def buckets(a: ArrayData, isFloat: Boolean, flat: Array[Double],
      dim: Int, planes: Int, tables: Int): Array[Long] = {
    val n = math.min(a.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val off = (t * planes + p) * dim
        var s = 0.0
        var i = 0
        if (isFloat) while (i < n) { s += a.getFloat(i) * flat(off + i); i += 1 }
        else while (i < n) { s += a.getDouble(i) * flat(off + i); i += 1 }
        if (s > 0.0) bucket |= (1L << p)
        p += 1
      }
      out(t) = (t.toLong << 48) | bucket
      t += 1
    }
    out
  }
}
