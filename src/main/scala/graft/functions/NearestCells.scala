package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The `nprobe` nearest coarse-quantizer cells of an embedding — the
  * IVF index's assignment/probe primitive, as a scalar kernel. It is
  * one of two scalar kernels, with the two-level [[NearestCellsHier]];
  * both sit behind the one sharded expression family
  * ([[NearestCellsShardedBcExpr]], [[NearestCellsShardedHierBcExpr]],
  * [[AssignShardedCellExpr]]), which carries the centroid matrix in a
  * broadcast and calls [[NearestCells.nearest]] from generated code —
  * the live tiers at one shard, the persisted tier at any count. A
  * declarative `array_sort` over nlist × dim literal dot products
  * builds a ~4k-node tree at nlist=64, dim=64 whose planning and
  * codegen dwarf the arithmetic, while this is one static call into a
  * tight loop — O(nlist × dim) per row, no allocation beyond the
  * output ids.
  *
  * Distance key is |c|² − 2·v·c (|v|² is row-constant and drops out of
  * the ordering); ties break toward the lower cell id.
  */
object NearestCells {

  /** The first `k` POSITIONS of a (key, id) argsort — ascending by
    * `Double.compare` on the key (NaN last), ties to the lower id.
    * The large-k selection shared by the flat kernel's nprobe > 64
    * path and [[NearestCellsHier]]'s; boxed index sort, so callers
    * keep small-k selections on their scan paths. */
  private[functions] def sortedPrefixPositions(keys: Array[Double],
      idOf: Int => Int, k: Int): Array[Int] = {
    val idx = Array.tabulate[Integer](keys.length)(Integer.valueOf)
    java.util.Arrays.sort(idx, (x: Integer, y: Integer) => {
      val cd = java.lang.Double.compare(keys(x), keys(y))
      if (cd != 0) cd else Integer.compare(idOf(x), idOf(y))
    })
    Array.tabulate(k)(j => idx(j).intValue())
  }

  /** Tight-loop kernel shared by eval and generated code. */
  def nearest(a: ArrayData, isFloat: Boolean, flat: Array[Double],
      norms2: Array[Double], dim: Int, nprobe: Int): Array[Int] = {
    val nlist = norms2.length
    val n = math.min(a.numElements(), dim)
    val dists = new Array[Double](nlist)
    var anyNaN = false
    var c = 0
    while (c < nlist) {
      var s = 0.0
      val off = c * dim
      var i = 0
      if (isFloat) while (i < n) { s += a.getFloat(i) * flat(off + i); i += 1 }
      else while (i < n) { s += a.getDouble(i) * flat(off + i); i += 1 }
      val d = norms2(c) - 2.0 * s
      if (d != d) anyNaN = true
      dists(c) = d
      c += 1
    }
    val k = math.min(nprobe, nlist)
    // selection is O(k x nlist): fine at probe-sized k, quadratic at the
    // fraction law's k ~ nlist/2 (19M compares per row at nlist=6250).
    // For large k, a full (dist, idx) index sort is the same ordering —
    // ascending distance, ties to the lower cell id — in O(nlist log
    // nlist). Equivalence holds only NaN-free (the scan's seed rule puts
    // a first-unused NaN cell AHEAD of finite ones; a sort would put it
    // last), so any NaN falls back to the scan. NaN distances require
    // NaN centroids — a pathology, not a path worth optimizing.
    if (k > 64 && !anyNaN)
      return sortedPrefixPositions(dists, i => i, k)
    val out = new Array[Int](k)
    val used = new Array[Boolean](nlist)
    var j = 0
    while (j < k) {
      // seed best with the first unused cell so an all-NaN distance row
      // (NaN comparisons are always false) still selects deterministically
      // instead of indexing used(-1)
      var best = -1
      var bd = 0.0
      var cc = 0
      while (cc < nlist) {
        if (!used(cc) && (best < 0 || dists(cc) < bd)) {
          bd = dists(cc); best = cc
        }
        cc += 1
      }
      used(best) = true
      out(j) = best
      j += 1
    }
    out
  }
}
