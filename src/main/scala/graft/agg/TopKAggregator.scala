package graft.agg

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, posexplode, udaf}

/** Custom typed Aggregator — the reference's
  * `UserDefinedValueAggregatorDescriptor` extension point
  * (mapred/lib/aggregate/UserDefinedValueAggregatorDescriptor.java) and
  * the `Reducer`-as-UDAF surface (SURVEY §2.9), demonstrated with the
  * canonical bounded-state example: top-k values per key.
  *
  * Because Aggregator has a merge-able intermediate buffer, Catalyst runs
  * it as partial (map-side) + final aggregation — the reference's
  * combiner — so each map task ships at most k rows per key into the
  * shuffle instead of every row. That is the scalable alternative to the
  * window row_number top-k, which must shuffle and sort ALL rows of every
  * partition. Buffer is a sorted Seq capped at k (k is small; insertion
  * into a k-element list beats heap overhead at these sizes).
  *
  * Ordering: by value descending, then id ascending — fully
  * deterministic, matching the oracle's ORDER BY value DESC, id. The
  * value comparison is SQL's total order on doubles (r22): NaN sorts
  * as the LARGEST value (ties between NaNs break by id) and -0.0 ties
  * with 0.0 — exactly what a window `ORDER BY v DESC, id` computes
  * after Spark's NormalizeFloatingNumbers, so the aggregator can
  * replace a window ranker on a real-double key without tie-break
  * drift. (The previous primitive `>`/`==` comparison left NaN
  * insertion-ORDER-dependent; finite keys are unaffected.)
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  // collapse -0.0 into 0.0 first (Spark normalizes float sort/group
  // keys), then java.lang.Double.compare gives the NaN-largest total
  // order SQL sorting uses
  private def norm(x: Double): Double = if (x == 0.0) 0.0 else x

  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(norm(a._1), norm(b._1))
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def insert(buf: Seq[(Double, Long)],
      v: (Double, Long)): Seq[(Double, Long)] = {
    val (before, after) = buf.span(better(_, v))
    val merged = before ++ (v +: after)
    if (merged.size > k) merged.take(k) else merged
  }

  override def zero: Seq[(Double, Long)] = Seq.empty

  override def reduce(buf: Seq[(Double, Long)],
      in: (Double, Long)): Seq[(Double, Long)] =
    if (buf.size == k && better(buf.last, in)) buf else insert(buf, in)

  override def merge(a: Seq[(Double, Long)],
      b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    b.foldLeft(a)(insert)

  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object TopKAggregator {

  /** The per-`key` top-`k` cut of every caller (q45, the dense and
    * lexical rankers, reciprocal-rank fusion): one [[TopKAggregator]]
    * over `(value, id)` per key, exploded back to one row per kept pair.
    * `out` receives the 1-based int rank, the value and the id columns
    * and returns the rest of the output row, after `key`. */
  def topKPerKey(df: DataFrame, key: String, k: Int, value: Column,
      id: Column)(out: (Column, Column, Column) => Seq[Column])
      : DataFrame = {
    val topk = udaf(new TopKAggregator(k), Encoders.product[(Double, Long)])
    df.groupBy(key).agg(topk(value, id).as("top"))
      .select(col(key), posexplode(col("top")).as(Seq("pos", "v")))
      .select(col(key) +: out((col("pos") + 1).cast("int").as("rank"),
        col("v._1"), col("v._2")): _*)
  }
}
