package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.types._

/** One shard's coarse quantizer, as the sharded kernels read it. */
object NearestCellsBc {

  /** The executor-shared quantizer state of one shard: flat centroid
    * matrix, per-cell squared norms, dimension. */
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
}

/** The SHARDED coarse-quantizer probe as ONE expression over ONE
  * broadcast — what makes the sharded ADC probe a single Catalyst plan
  * at any shard count (r19 verdict item 1).
  *
  * The per-shard-plan fan-out ([[graft.pipeline.Similarity]]'s r17–r19
  * sharded tier) paid a measured ~0.1 s/shard of EXECUTION floor: N
  * bucketed scans, N broadcasts, N exchanges — task count linear in
  * the shard count, re-paid per probe batch and per micro-batch
  * (streaming amortization measured and falsified in r19). Here the
  * fan-out is DATA instead of plan: every shard's quantizer rides one
  * broadcast, a query emits its probed cells of ALL shards from one
  * kernel call as GLOBAL cell ids (`gcell = shard << 32 | cell` —
  * stable across retrains because the shard occupies a fixed key
  * range), and the stored side is one physical table bucketed by
  * `gcell`, so the probe is one scan + one join regardless of shard
  * count. Reference contract: the partitioned MapFile reader set is
  * opened ONCE and every lookup routes within it
  * (mapred/MapFileOutputFormat.java:93-107) — the reader set is state,
  * not per-probe construction.
  *
  * Per-shard cell selection calls the EXACT single-shard kernels
  * ([[NearestCells.nearest]] / [[NearestCellsHier.nearest]]) on each
  * shard's own slice, so the probed cells per shard are bit-identical
  * to the retired plan-per-shard fan-out's (what keeps the qg1–qg4
  * oracles valid across the re-layout). A shard dialed to nprobe 0 is
  * SKIPPED (emits no cells) — the shard-pure legs the per-shard tuner
  * builds.
  *
  * The live tiers (ivfTopK, ivfAdcTopK, semDedup, outlierAudit) and a
  * shard retrain's re-pack run the same expressions over a ONE-entry
  * [[ShardedQuant]]: at shard 0 a gcell equals its cell id, so one
  * kernel family serves every cell selection in the program. The
  * quantizer rides a broadcast, not a plan literal: a folded centroid
  * matrix serializes into the task binary of every stage of every
  * plan (~0.4 µs per cell per plan measured on the growth corpus,
  * ~0.5 GB per plan at nlist = 10^6); a broadcast ships once per
  * executor and a plan carries only the handle. */
object NearestCellsSharded {

  /** All shards' flat quantizers, one broadcast. */
  final case class ShardedQuant(quants: Array[NearestCellsBc.Quantizer])
    extends Serializable {
    def nShards: Int = quants.length
  }

  /** All shards' two-level groupings, one broadcast. */
  final case class ShardedHier(groups: Array[NearestCellsHier.Grouping])
    extends Serializable {
    def nShards: Int = groups.length
  }

  /** The global cell id of (shard, cell): the shard owns key range
    * [shard·2^32, (shard+1)·2^32) — per-shard cell ids stay stable
    * under any other shard's retrain (an offset scheme from cumulative
    * nlist would shift every higher shard's range on one shard's
    * nlist change). */
  def gcell(shard: Int, cell: Int): Long =
    (shard.toLong << 32) | (cell.toLong & 0xffffffffL)

  /** Driver/executor kernel of the FLAT sharded probe: for each shard
    * with nprobes(s) > 0, that shard's nprobe nearest cells (the
    * single-shard kernel verbatim), emitted as gcells in shard order. */
  def nearestFlat(a: ArrayData, isFloat: Boolean, q: ShardedQuant,
      nprobes: Array[Int]): Array[Long] = {
    var total = 0
    var s = 0
    while (s < q.nShards) {
      if (nprobes(s) > 0)
        total += math.min(nprobes(s), q.quants(s).norms2.length)
      s += 1
    }
    val out = new Array[Long](total)
    var o = 0
    s = 0
    while (s < q.nShards) {
      if (nprobes(s) > 0) {
        val qs = q.quants(s)
        val cells = NearestCells.nearest(a, isFloat, qs.flat, qs.norms2,
          qs.dim, nprobes(s))
        var i = 0
        while (i < cells.length) {
          out(o) = gcell(s, cells(i)); o += 1; i += 1
        }
      }
      s += 1
    }
    out
  }

  /** [[nearestFlat]] through each shard's TWO-LEVEL grouping. */
  def nearestHier(a: ArrayData, isFloat: Boolean, h: ShardedHier,
      gprobes: Array[Int], nprobes: Array[Int]): Array[Long] = {
    val parts = new Array[Array[Int]](h.nShards)
    var total = 0
    var s = 0
    while (s < h.nShards) {
      if (nprobes(s) > 0) {
        parts(s) = NearestCellsHier.nearest(a, isFloat, h.groups(s),
          gprobes(s), nprobes(s))
        total += parts(s).length
      }
      s += 1
    }
    val out = new Array[Long](total)
    var o = 0
    s = 0
    while (s < h.nShards) {
      val cells = parts(s)
      if (cells != null) {
        var i = 0
        while (i < cells.length) {
          out(o) = gcell(s, cells(i)); o += 1; i += 1
        }
      }
      s += 1
    }
    out
  }

  /** Assignment kernel: the 1-nearest cell of `vec` within its OWN
    * shard's quantizer (the write paths' routing — one pass over a
    * mixed-shard batch). */
  def assignCell(a: ArrayData, isFloat: Boolean, q: ShardedQuant,
      shard: Int): Int = {
    val qs = q.quants(shard)
    NearestCells.nearest(a, isFloat, qs.flat, qs.norms2, qs.dim, 1)(0)
  }

  /** Column API: probed gcells of every shard, flat kernel. */
  def flat(vec: Column, bc: Broadcast[ShardedQuant],
      nprobes: Array[Int]): Column =
    column(NearestCellsShardedBcExpr(expression(vec), bc, nprobes))

  /** Column API: probed gcells of every shard, two-level kernel. */
  def hier(vec: Column, bc: Broadcast[ShardedHier],
      gprobes: Array[Int], nprobes: Array[Int]): Column =
    column(NearestCellsShardedHierBcExpr(expression(vec), bc, gprobes,
      nprobes))

  /** Column API: the assigned cell (int, shard-local) of a vector in
    * shard `shard` — the write paths pair it with the shard column to
    * derive `gcell` in plain arithmetic; the live tiers pass `lit(0)`
    * against a one-entry [[ShardedQuant]]. */
  def assign(vec: Column, shard: Column,
      bc: Broadcast[ShardedQuant]): Column =
    column(AssignShardedCellExpr(expression(vec), expression(shard), bc))
}

/** Flat sharded probe: array<float|double> → array<long> of gcells. */
case class NearestCellsShardedBcExpr(child: Expression,
    bc: Broadcast[NearestCellsSharded.ShardedQuant], nprobes: Array[Int])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nearest_cells_sharded expects array<float|double>, got " +
          other.sql)
    }

  override def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(NearestCellsSharded.nearestFlat(
      v.asInstanceOf[ArrayData], isFloat, bc.value, nprobes))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val bcRef = ctx.addReferenceObj("svBcast", bc,
        classOf[Broadcast[NearestCellsSharded.ShardedQuant]].getName)
      val npRef = ctx.addReferenceObj("svNprobes", nprobes, "int[]")
      val cls = classOf[NearestCellsSharded.ShardedQuant].getName
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray(
         |    graft.functions.NearestCellsSharded.nearestFlat(
         |      $v, $isFloat, ($cls) $bcRef.value(), $npRef));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellsShardedBcExpr = copy(child = newChild)
}

/** Two-level sharded probe: array<float|double> → array<long>. */
case class NearestCellsShardedHierBcExpr(child: Expression,
    bc: Broadcast[NearestCellsSharded.ShardedHier], gprobes: Array[Int],
    nprobes: Array[Int])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nearest_cells_sharded_hier expects array<float|double>, got " +
          other.sql)
    }

  override def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(NearestCellsSharded.nearestHier(
      v.asInstanceOf[ArrayData], isFloat, bc.value, gprobes, nprobes))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val bcRef = ctx.addReferenceObj("svHierBcast", bc,
        classOf[Broadcast[NearestCellsSharded.ShardedHier]].getName)
      val gpRef = ctx.addReferenceObj("svGprobes", gprobes, "int[]")
      val npRef = ctx.addReferenceObj("svNprobes", nprobes, "int[]")
      val cls = classOf[NearestCellsSharded.ShardedHier].getName
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray(
         |    graft.functions.NearestCellsSharded.nearestHier(
         |      $v, $isFloat, ($cls) $bcRef.value(), $gpRef, $npRef));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellsShardedHierBcExpr = copy(child = newChild)
}

/** Assignment: (vec, shard) → the 1-nearest cell id (int) within that
  * shard's quantizer. Null vec or null shard → null row (dropped by
  * the write paths' packing). */
case class AssignShardedCellExpr(left: Expression, right: Expression,
    bc: Broadcast[NearestCellsSharded.ShardedQuant])
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
          IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"assign_sharded_cell expects (array<float|double>, int), got " +
          s"(${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(v: Any, s: Any): Any =
    NearestCellsSharded.assignCell(v.asInstanceOf[ArrayData], isFloat,
      bc.value, s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val bcRef = ctx.addReferenceObj("svAssignBcast", bc,
        classOf[Broadcast[NearestCellsSharded.ShardedQuant]].getName)
      val cls = classOf[NearestCellsSharded.ShardedQuant].getName
      s"""
         |${ev.value} = graft.functions.NearestCellsSharded.assignCell(
         |  $v, $isFloat, ($cls) $bcRef.value(), $s);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AssignShardedCellExpr =
    copy(left = newLeft, right = newRight)
}
