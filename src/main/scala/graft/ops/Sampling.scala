package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic source-side sampling/filter predicates — the reference's
  * `SequenceFileInputFilter` family (hadoop-gpu-0.20.1/src/mapred/org/apache/
  * hadoop/mapred/SequenceFileInputFilter.java:146 PercentFilter; its :103
  * RegexFilter is Spark's own `rlike`, and q19_md5_filter writes its :195
  * MD5Filter rule inline). Expressed as pushdown-friendly Catalyst
  * predicates: a `filter` this shape lands in the parquet scan's
  * PushedFilters / is evaluated inside codegen right after the scan, so at
  * 100 TB the rejected rows never leave the scan stage.
  */
object Sampling {

  /** PercentFilter: keep records where key.hashCode % f == 0. For the
    * integer keys the reference uses, `IntWritable.hashCode` IS the value
    * (io/IntWritable.java), so the faithful translation is `key % f == 0`. */
  def percentFilter(key: Column, frequency: Int): Column =
    pmod(key, lit(frequency)) === 0

  /** The id's position in [0, 1) under the portable content hash —
    * the basis of stratified sampling and train/test splits. Unlike
    * `sample(seed)`, the decision is a pure function of the ROW (not of
    * partitioning or task replay), so results are identical across
    * engines, re-runs, and repartitionings. */
  def hashPosition(id: Column, denom: Int = 10000): Column =
    pmod(graft.pipeline.Portable.hash60(id.cast("string")), lit(denom.toLong))

  /** Stratified sample: per-class keep fractions (training-data mixing —
    * e.g. downsample boilerplate-heavy sources, upsample rare languages).
    * A row of class c is kept iff hashPosition(id) < fracs(c) * denom.
    * Classes absent from `fracs` keep `defaultFrac`. Map-side predicate;
    * no shuffle, no RNG state. */
  def stratified(classCol: Column, id: Column, fracs: Map[String, Double],
      defaultFrac: Double = 0.0, denom: Int = 10000): Column = {
    // thresholds rounded ONCE on the driver: (0.29 * 10000).toLong would
    // truncate the 2899.999... double to 2899, silently dropping one
    // hash bucket per class vs any engine that writes `pos < 2900`
    val thresholds = fracs.map { case (k, f) =>
      k -> math.round(f * denom)
    }
    val threshold = coalesce(
      element_at(typedLit(thresholds), classCol.cast("string")),
      lit(math.round(defaultFrac * denom)))
    hashPosition(id, denom) < threshold
  }

  /** Deterministic train/test split tag for a row id: "test" for the
    * hash-lowest `testFrac` of rows, "train" otherwise. Stable under
    * re-runs and engine changes — the property a reproducible pipeline
    * needs from its split. */
  def splitTag(id: Column, testFrac: Double, denom: Int = 10000): Column =
    when(hashPosition(id, denom) < math.round(testFrac * denom), lit("test"))
      .otherwise(lit("train"))
}
