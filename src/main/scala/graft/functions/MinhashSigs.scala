package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole minhash signature of a document in ONE map-side pass:
  * `minhash_sigs(text)` returns `[h_0 … h_{H-1}, distinctShingles]` —
  * the H banded-LSH signature minima over the doc's distinct word
  * `n`-gram shingles plus the set size the Jaccard step needs.
  *
  * The declarative twin (`Dedup.shinglePostings` → groupBy(id) with H
  * `min` aggregates) must SHUFFLE every (id, shingle-hash) posting to
  * build signatures; this expression folds the shingle walk, the
  * [[Hash60]] content hash, the distinct filter, and all H affine minima
  * into the projection, so signature construction costs zero exchanges
  * at any corpus size (the posting shuffle then only runs
  * candidate-restricted, for verification). Bit-equality with the
  * aggregate path is spec-gated (`MinhashSigsSpec`), and the q31 oracle
  * gates the end-to-end result.
  *
  * Tokenization is BIT-EXACT with `Dedup.shingles` on arbitrary text:
  * words are `\S+` runs (all six Java-regex whitespace bytes separate),
  * and a shingle only forms across gaps of exactly one 0x20 — the regex
  * twin's `(?=(\S+ \S+ ...))` lookahead semantics — so doubled spaces,
  * tabs and newlines break the window identically in both paths.
  * Documents with fewer than `n` words, or whose every window crosses a
  * non-single-space gap, have no shingles and return null (absent from
  * the aggregate path for the same reason).
  */
case class MinhashSigsExpr(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 && numHashes > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs needs n > 0 and numHashes > 0, got ($n, $numHashes)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects string, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val out = MinhashSigs.eval(v.asInstanceOf[UTF8String], n, numHashes)
    if (out == null) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out) // no per-element boxing
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val arr = ctx.freshName("sigs")
      s"""
         |long[] $arr = graft.functions.MinhashSigs.eval($v, $n, $numHashes);
         |if ($arr == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : MinhashSigsExpr = copy(child = newChild)
}

object MinhashSigs {

  /** The affine-permutation modulus — THE single source (`Dedup.P`
    * aliases this). */
  val P = 2147483647L

  /** Affine permutation coefficients, flat-packed [a0,b0,a1,b1,…] — THE
    * single source of the permutation family (`Dedup.hashParams` derives
    * its pair view from this, so the two signature strategies cannot
    * drift). Cached per H. */
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  def affineParams(h: Int): Array[Long] =
    paramCache.computeIfAbsent(h, _ => {
      val out = new Array[Long](2 * h)
      var i = 0
      while (i < h) {
        out(2 * i) = 1L + ((i + 1) * 2654435761L) % (P - 1)
        out(2 * i + 1) = ((i + 1) * 1013904223L) % P
        i += 1
      }
      out
    })

  /** Whitespace byte in the Java-regex `\s` sense: [ \t\n\x0B\f\r] —
    * exactly the separators the `\S+` regex twin tokenizes on (all six
    * are < 0x80, so UTF-8 multibyte sequences can never collide). */
  @inline private def isSep(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d)

  /** Null when the doc has fewer than n words (no shingles). The walk is
    * allocation-light on purpose — this runs once per document in the
    * scan projection: primitive offset arrays, an open-addressed
    * primitive long set for the distinct filter, and the shared
    * ThreadLocal digest via [[Hash60.hash60]]. */
  def eval(text: UTF8String, n: Int, numHashes: Int): Array[Long] = {
    val bytes = text.getBytes
    // word start/end offsets (\S+ runs, like the regex twin); a doc of
    // L bytes has at most (L+1)/2 words
    val maxWords = bytes.length / 2 + 1
    val starts = new Array[Int](maxWords)
    val ends = new Array[Int](maxWords)
    var words = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSep(bytes(i))) i += 1
      if (i < bytes.length) {
        starts(words) = i
        while (i < bytes.length && !isSep(bytes(i))) i += 1
        ends(words) = i
        words += 1
      }
    }
    if (words < n) return null
    val ab = affineParams(numHashes)
    val mins = new Array[Long](numHashes + 1)
    java.util.Arrays.fill(mins, 0, numHashes, Long.MaxValue)
    // open-addressed set of the distinct 60-bit hashes; 0 marks an empty
    // slot, so the (2^-60-probability) hash value 0 is tracked by a
    // dedicated flag to stay bit-exact with the aggregate twin.
    // Capacity is computed in LONG and clamped to 2^30: shingleCount*2
    // in Int arithmetic overflows negative for a near-2 GiB document,
    // and the old cap=4 fallback would let 4 distinct hashes fill the
    // table and spin the insert probe forever. words <= L/2+1 <= 2^30
    // guarantees cap >= shingleCount, so an empty slot always exists
    // and every probe terminates; below the clamp the capacity is
    // >= 2x shingles, keeping probes short.
    val shingleCount = words - n + 1
    val want = math.max(4L, math.min(1L << 30, shingleCount.toLong * 2L))
    val cap = 1 << (64 - java.lang.Long.numberOfLeadingZeros(want - 1))
    val table = new Array[Long](cap)
    var seenZero = false
    var distinct = 0
    // the regex twin ((?=(\S+ \S+ ...))\S+) only matches a shingle whose
    // words are joined by EXACTLY one 0x20: any other gap (doubled space,
    // tab, newline) breaks the window. lastBad tracks the most recent
    // non-single-space gap at or below the window's last gap; the
    // shingle at w is real iff no such gap sits inside [w, w+n-2].
    var lastBad = -1
    var gp = 0 // next gap index to classify (gap g joins words g, g+1)
    var w = 0
    while (w + n <= words) {
      while (gp <= w + n - 2) {
        if (!(starts(gp + 1) == ends(gp) + 1 && bytes(ends(gp)) == ' '))
          lastBad = gp
        gp += 1
      }
      if (lastBad >= w) { w += 1 }
      else {
      // the shingle is the exact byte range from word w's start to word
      // w+n-1's end — the single-space gaps make this identical to the
      // regex twin's captured string
      val sh = Hash60.hash60(bytes,
        starts(w), ends(w + n - 1) - starts(w))
      var fresh = false
      if (sh == 0L) {
        fresh = !seenZero
        seenZero = true
      } else {
        var slot = (java.lang.Long.hashCode(sh) & (cap - 1))
        var done = false
        while (!done) {
          val cur = table(slot)
          if (cur == 0L) { table(slot) = sh; fresh = true; done = true }
          else if (cur == sh) done = true
          else slot = (slot + 1) & (cap - 1)
        }
      }
      if (fresh) {
        distinct += 1
        val x = sh % P
        var k = 0
        while (k < numHashes) {
          val v = (ab(2 * k) * x + ab(2 * k + 1)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      w += 1
      }
    }
    // a doc whose every window crosses a non-single-space gap has NO
    // shingles at all — absent from the aggregate path, so null here too
    if (distinct == 0) return null
    mins(numHashes) = distinct.toLong
    mins
  }
}
