package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The coarse-quantizer probe with the centroid state riding a
  * BROADCAST VARIABLE instead of a plan literal.
  *
  * A centroid literal folded into codegen reference objects is
  * correct, but those arrays serialize into the TASK BINARY of every
  * stage of every plan that probes the index:
  * measured ~0.4 µs per cell per plan on the growth corpus (the
  * qadc_tuned probe's residual 1x→100x growth was almost entirely this
  * term — candidates were constant and the parquet was cell-pruned),
  * and at a production shard's nlist = 10^6 the per-plan payload is
  * ~0.5 GB — unworkable. A Broadcast ships the quantizer ONCE per
  * executor lifetime and every subsequent probe plan carries only the
  * handle; serving batches then pay candidate-sized work regardless of
  * nlist. The kernel is [[NearestCells.nearest]], shared with the
  * sharded probe ([[NearestCellsShardedBcExpr]]), which is what the
  * persisted index serves through; this single-quantizer form serves
  * the live tiers (ivfTopK, ivfAdcTopK, semDedup) and index assignment.
  *
  * Built directly as an [[Expression]] (no registry form): a broadcast
  * handle cannot ride `call_function` literals. */
case class NearestCellsBcExpr(child: Expression,
    bc: Broadcast[NearestCellsBc.Quantizer], nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nearest_cells_bc expects array<float|double>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val q = bc.value
    UnsafeArrayData.fromPrimitiveArray(NearestCells.nearest(
      v.asInstanceOf[ArrayData], isFloat, q.flat, q.norms2, q.dim,
      nprobe))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val bcRef = ctx.addReferenceObj("ivfBcast", bc,
        classOf[Broadcast[NearestCellsBc.Quantizer]].getName)
      val q = ctx.freshName("quant")
      val cls = classOf[NearestCellsBc.Quantizer].getName
      s"""
         |$cls $q = ($cls) $bcRef.value();
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray(
         |    graft.functions.NearestCells.nearest(
         |      $v, $isFloat, $q.flat(), $q.norms2(), $q.dim(), $nprobe));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellsBcExpr = copy(child = newChild)
}

object NearestCellsBc {

  /** The executor-shared quantizer state: flat centroid matrix,
    * per-cell squared norms, dimension. */
  final case class Quantizer(flat: Array[Double], norms2: Array[Double],
      dim: Int) extends Serializable

  def quantizerOf(cents: Array[Array[Double]]): Quantizer = {
    // the kernel reads the matrix as flat c*dim offsets — a ragged row
    // would silently misalign every distance, so fail loudly instead
    if (cents.nonEmpty)
      cents.find(_.length != cents(0).length).foreach(r =>
        throw new IllegalArgumentException(
          s"quantizerOf: ragged centroid matrix (row of length " +
            s"${r.length} vs ${cents(0).length})"))
    Quantizer(cents.flatten, cents.map(_.map(x => x * x).sum),
      if (cents.isEmpty) 0 else cents(0).length)
  }

  /** Column API over a pre-broadcast quantizer. */
  def apply(vec: Column, bc: Broadcast[Quantizer], nprobe: Int): Column =
    org.apache.spark.sql.classic.GraftColumnBridge.column(
      NearestCellsBcExpr(
        org.apache.spark.sql.classic.GraftColumnBridge.expression(vec),
        bc, nprobe))
}
