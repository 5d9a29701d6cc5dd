package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** TWO-LEVEL coarse-quantizer probe — `nprobe` nearest cells selected
  * through a group layer instead of a full centroid scan.
  *
  * [[NearestCells.nearest]] computes one distance per CELL per row:
  * O(nlist × dim). With the occupancy-constant law (`nlist ~ n / 32`)
  * that term is linear in the corpus — invisible at bench scale, real
  * at production shard scale (nlist = 10^6 cells → 64M multiplies per
  * query). The standard remedy is a second quantizer level: the nlist
  * cell centroids are themselves clustered into ceil(sqrt(nlist))
  * GROUPS (driver-side, pure deterministic function of the centroid
  * matrix — strided-init Lloyd, the [[graft.pipeline.Similarity
  * .trainCoarseQuantizer]] recipe applied to the centroids); a probe
  * scans the group centroids, keeps its `gprobe` nearest groups, and
  * scans ONLY their member cells — O((sqrt(nlist) + gprobe ×
  * nlist/sqrt(nlist)) × dim) per row, ~2·sqrt(nlist) at gprobe small.
  *
  * Semantics: ascending (distance, cell id); with `gprobe` = group
  * count the candidate set is every cell and the result equals
  * [[NearestCells.nearest]] exactly (NaN-free; property-gated). Smaller
  * `gprobe` trades recall for the sqrt scan — a RECALL dial like
  * nprobe, tuned and gated the same way
  * ([[graft.pipeline.Similarity.tuneShardServing]]); it changes WHICH
  * cells are probed, so it is an opt-in serving path, never silently
  * swapped under an oracle-gated query. The grouping is computed once
  * per (index, epochs) on the driver and ships in the sharded probe's
  * broadcast ([[NearestCellsSharded.ShardedHier]]). */
object NearestCellsHier {

  /** The precomputed two-level layout: group centroids plus the cell
    * centroids re-ordered group-major, with offsets. Serializable —
    * it rides the codegen references array to executors. */
  final case class Grouping(dim: Int, groupFlat: Array[Double],
      groupNorms2: Array[Double], offsets: Array[Int],
      cellIds: Array[Int], cellFlat: Array[Double],
      cellNorms2: Array[Double]) extends Serializable {
    def groups: Int = groupNorms2.length
  }

  /** Group the cell centroids into ceil(sqrt(nlist)) groups — pure
    * deterministic function of the matrix: strided-init Lloyd (3
    * rounds) over the centroids themselves, assignment ties to the
    * lower group id, empty groups keep their seed. Driver-side cost
    * O(nlist × sqrt(nlist) × dim) — paid once per plan, never per
    * row or per task. */
  def group(cents: Array[Array[Double]]): Grouping = {
    val nlist = cents.length
    // empty matrix: the flat path degrades to an empty cell list —
    // parity here (zero groups, zero cells), not an index error
    if (nlist == 0)
      return Grouping(0, Array.empty, Array.empty, Array(0),
        Array.empty, Array.empty, Array.empty)
    val dim = cents(0).length
    val g = math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    var gc = Array.tabulate(g)(i =>
      cents(((i.toLong * nlist) / g).toInt).clone())
    def nearestGroup(v: Array[Double]): Int = {
      var best = 0
      var bd = Double.PositiveInfinity
      var j = 0
      while (j < g) {
        var s = 0.0
        var i = 0
        while (i < dim) { val d = v(i) - gc(j)(i); s += d * d; i += 1 }
        if (s < bd) { bd = s; best = j }
        j += 1
      }
      best
    }
    for (_ <- 0 until 3) {
      val sums = Array.ofDim[Double](g, dim)
      val counts = new Array[Long](g)
      cents.foreach { v =>
        val b = nearestGroup(v)
        var i = 0
        while (i < dim) { sums(b)(i) += v(i); i += 1 }
        counts(b) += 1
      }
      gc = Array.tabulate(g)(j =>
        if (counts(j) == 0) gc(j)
        else Array.tabulate(dim)(i => sums(j)(i) / counts(j)))
    }
    val assign = Array.tabulate(nlist)(c => nearestGroup(cents(c)))
    val order = (0 until nlist).sortBy(c => (assign(c), c)).toArray
    val offsets = new Array[Int](g + 1)
    order.foreach(c => offsets(assign(c) + 1) += 1)
    for (j <- 1 to g) offsets(j) += offsets(j - 1)
    Grouping(dim,
      gc.flatten,
      gc.map(_.map(x => x * x).sum),
      offsets,
      order,
      order.flatMap(cents(_)),
      order.map(c => cents(c).map(x => x * x).sum))
  }

  /** Tight-loop kernel shared by eval and generated code. Distance key
    * is |c|² − 2·v·c like [[NearestCells.nearest]]; candidate ordering
    * is total — `Double.compare` on the key (NaN sorts last), ties to
    * the lower cell id. */
  def nearest(a: ArrayData, isFloat: Boolean, h: Grouping, gprobe: Int,
      nprobe: Int): Array[Int] = {
    val g = h.groups
    val dim = h.dim
    val n = math.min(a.numElements(), dim)
    def dot(flat: Array[Double], off: Int): Double = {
      var s = 0.0
      var i = 0
      if (isFloat) while (i < n) { s += a.getFloat(i) * flat(off + i); i += 1 }
      else while (i < n) { s += a.getDouble(i) * flat(off + i); i += 1 }
      s
    }
    // level 1: group distances, top-gp scan (g is ~sqrt(nlist) — small)
    val gd = new Array[Double](g)
    var j = 0
    while (j < g) {
      gd(j) = h.groupNorms2(j) - 2.0 * dot(h.groupFlat, j * dim)
      j += 1
    }
    val gp = math.min(gprobe, g)
    val selGroups = new Array[Int](gp)
    val used = new Array[Boolean](g)
    var t = 0
    while (t < gp) {
      var best = -1
      var bd = 0.0
      var jj = 0
      while (jj < g) {
        if (!used(jj) && (best < 0 ||
            java.lang.Double.compare(gd(jj), bd) < 0)) {
          bd = gd(jj); best = jj
        }
        jj += 1
      }
      used(best) = true
      selGroups(t) = best
      t += 1
    }
    // level 2: member-cell distances of the selected groups only
    var m = 0
    var s = 0
    while (s < gp) {
      m += h.offsets(selGroups(s) + 1) - h.offsets(selGroups(s)); s += 1
    }
    val candIds = new Array[Int](m)
    val candD = new Array[Double](m)
    var w = 0
    s = 0
    while (s < gp) {
      val grp = selGroups(s)
      var p = h.offsets(grp)
      while (p < h.offsets(grp + 1)) {
        candIds(w) = h.cellIds(p)
        candD(w) = h.cellNorms2(p) - 2.0 * dot(h.cellFlat, p * dim)
        w += 1
        p += 1
      }
      s += 1
    }
    val k = math.min(nprobe, m)
    if (k <= 64) {
      // bounded scan selection — zero boxing on the small-k serving
      // path this kernel exists for; same total order as the sort
      // (Double.compare on the key, ties to the lower cell id)
      val out = new Array[Int](k)
      val used = new Array[Boolean](m)
      var j2 = 0
      while (j2 < k) {
        var best = -1
        var bd = 0.0
        var bid = 0
        var i2 = 0
        while (i2 < m) {
          if (!used(i2)) {
            val better =
              if (best < 0) true
              else {
                val cd = java.lang.Double.compare(candD(i2), bd)
                cd < 0 || (cd == 0 && candIds(i2) < bid)
              }
            if (better) { bd = candD(i2); bid = candIds(i2); best = i2 }
          }
          i2 += 1
        }
        used(best) = true
        out(j2) = candIds(best)
        j2 += 1
      }
      out
    } else {
      val pos = NearestCells.sortedPrefixPositions(candD,
        i => candIds(i), k)
      Array.tabulate(k)(i => candIds(pos(i)))
    }
  }
}
