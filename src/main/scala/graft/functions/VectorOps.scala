package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native dot product over `array<float>` / `array<double>` columns.
  *
  * The declarative form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * is correct but runs the lambda through interpreted higher-order
  * functions: one allocated intermediate array plus boxed arithmetic per
  * pair, which dominates brute-force similarity scans (millions of pairs
  * × vector dims). This Expression generates a tight primitive loop via
  * `doGenCode` (the "custom Catalyst Expression beats a Scala UDF beats
  * anything else" tier): no allocation, no boxing, whole-stage-codegen
  * friendly.
  *
  * Arithmetic is `(double)a[i] * (double)b[i]` accumulated left-to-right
  * — bit-identical to the cast-then-multiply declarative form and to the
  * DuckDB oracle, so swapping implementations never moves a hash.
  *
  * Null semantics: null array → null result; elements are assumed
  * non-null (dense embeddings). Length mismatch truncates to the shorter
  * side, like `zip_with` with a null-producing lambda would not — we
  * document rather than pay a per-row branch.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double>, got ${left.dataType.sql}, " +
      right.dataType.sql)

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(a, i, ta) * get(b, i, tb); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(v: String, i: String, t: DataType): String = t match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _         => s"$v.getDouble($i)"
      }
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(a, i, elemType(left).get)} *
         |        ${getter(b, i, elemType(right).get)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VectorOps {
  /** Bind graft's eight kernels to their SQL names in the session's
    * function registry: `vec_dot`, `hash60`, `sign_buckets`, `pack_i8`,
    * `i8_dot`, `max_abs`, `pack_quant` and `minhash_sigs`. Only callers
    * that look a kernel up BY NAME (`call_function`, SQL text, the
    * registry) need it; the Column APIs build their expressions
    * directly and work on any session. Each call replaces the eight
    * bindings, so call it once per session, not per query. */
  def ensureRegistered(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDot(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hash60", exprs => Hash60Expr(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_buckets",
      exprs => SignBucketsExpr(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pack_i8", exprs => PackI8Expr(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "i8_dot", exprs => I8DotExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "max_abs", exprs => MaxAbsExpr(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pack_quant", exprs => PackQuantExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sigs",
      exprs => {
        // n and H shape the output and the codegen — they must be
        // literals; accept any integral literal and fail with the
        // function's name rather than a ClassCastException
        def intArg(e: Expression, name: String): Int = {
          require(e.foldable, s"minhash_sigs: $name must be a literal")
          e.eval() match {
            case n: java.lang.Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"minhash_sigs: $name must be integral, got $other")
          }
        }
        MinhashSigsExpr(exprs(0), intArg(exprs(1), "n"),
          intArg(exprs(2), "numHashes"))
      },
      "built-in")
  }

  /** Column API for the native dot product. */
  def vecDot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** Column API for int8-code packing. */
  def packI8(codes: Column): Column = column(PackI8Expr(expression(codes)))

  /** Column API for the exact int8-code dot product. */
  def i8Dot(a: Column, b: Column): Column =
    column(I8DotExpr(expression(a), expression(b)))

  /** Column API for the native quantization scale. */
  def maxAbs(v: Column): Column = column(MaxAbsExpr(expression(v)))

  /** Column API for single-pass quantize+pack. */
  def packQuant(v: Column, scale: Column): Column =
    column(PackQuantExpr(expression(v), expression(scale)))
}
