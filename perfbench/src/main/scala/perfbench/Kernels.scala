package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{NearestCellsBc, NearestCellsSharded,
  NearestCellsShardedBcExpr, VectorOps}

/** Kernel microbench of the traced run: each native expression alone on
  * a seeded batch, in ns per row. The registered SQL functions (`vec_dot`,
  * `i8_dot`, `minhash_sigs`, `hash60`) are looked up by name in the
  * session's function registry; cell assignment is the
  * `NearestCellsSharded` flat kernel. Each expression is compiled the way
  * a query runs it (a generated `UnsafeProjection`) and applied to the
  * batch in a loop, so job and scan overhead stay out of the figure.
  * Reported: the median of `Reps` timed passes ÷ rows. */
object Kernels {
  val Rows = 20000
  val Reps = 7
  val Dim = 64
  val Shards = 2
  val CellsPerShard = 64

  def run(spark: SparkSession, seed: Long): Seq[Map[String, Any]] = {
    VectorOps.ensureRegistered(spark)
    val rnd = new scala.util.Random(seed)
    def fn(name: String, args: Expression*): Expression =
      spark.sessionState.functionRegistry
        .lookupFunction(FunctionIdentifier(name), args)
    val vecT = ArrayType(FloatType, containsNull = false)
    val a = BoundReference(0, vecT, nullable = false)
    val b = BoundReference(1, vecT, nullable = false)
    val text = BoundReference(2, StringType, nullable = false)
    val words = (0 until 2000).map(i => s"w$i")
    def vec(): GenericArrayData =
      new GenericArrayData(Array.fill[Any](Dim)(rnd.nextGaussian().toFloat))
    val raw = Array.fill(Rows)(InternalRow(vec(), vec(),
      UTF8String.fromString(Seq.fill(30)(words(rnd.nextInt(words.size)))
        .mkString(" "))))
    // int8 codes of both vectors, packed by the program's own pack_quant
    val pack = UnsafeProjection.create(Seq(
      fn("pack_quant", a, fn("max_abs", a)),
      fn("pack_quant", b, fn("max_abs", b))))
    // unsafe rows, the layout a scan hands to a generated projection
    val toUnsafe = UnsafeProjection.create(
      Array[DataType](vecT, vecT, StringType, BinaryType, BinaryType))
    val rows = raw.map { r =>
      val p = pack(r)
      toUnsafe(InternalRow(r.getArray(0), r.getArray(1), r.getUTF8String(2),
        p.getBinary(0), p.getBinary(1))).copy()
    }
    val pa = BoundReference(3, BinaryType, nullable = false)
    val pb = BoundReference(4, BinaryType, nullable = false)
    val quants = Array.fill(Shards)(NearestCellsBc.quantizerOf(
      Array.fill(CellsPerShard)(Array.fill(Dim)(rnd.nextGaussian()))))
    val bc = spark.sparkContext.broadcast(
      NearestCellsSharded.ShardedQuant(quants))
    val kernels = Seq(
      "vec_dot" -> fn("vec_dot", a, b),
      "i8_dot" -> fn("i8_dot", pa, pb),
      "minhash_sigs" -> fn("minhash_sigs", text, Literal(3), Literal(24)),
      "hash60" -> fn("hash60", text),
      "nearest_cells_sharded" ->
        NearestCellsShardedBcExpr(a, bc, Array.fill(Shards)(8)))
    try for ((name, e) <- kernels) yield {
      val proj = UnsafeProjection.create(Seq(e))
      def pass(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < rows.length) { proj(rows(i)); i += 1 }
        (System.nanoTime() - t0).toDouble
      }
      (1 to 3).foreach(_ => pass())
      val times = (1 to Reps).map(_ => pass()).sorted
      Map("name" -> name, "rows" -> Rows,
        "ns_per_row" -> times(Reps / 2) / Rows)
    } finally bc.destroy()
  }
}
