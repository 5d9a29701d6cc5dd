package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic hash-ranked sampling — the k documents whose seeded
  * portable hash is smallest. This is the eval-holdout / inspection
  * sample a training-data pipeline actually wants: pseudo-random but a
  * PURE FUNCTION of the ids (re-runs, other engines, and incremental
  * maintenance all select the same rows — no RNG state, no
  * partitioning dependence), and a MIN-K monoid, so partial samples
  * merge exactly: min-k(A ∪ B) = min-k(min-k(A) ∪ min-k(B)). That law
  * makes it the third [[MergeTables]] instance beside the SUM tier
  * (quantile/count-min — invertible, hence retraction) and the MAX
  * tier (HLL registers — idempotent, hence naturally replay-safe):
  * min-k is idempotent AFTER id-dedup (the probe distincts stored
  * rows, so a replayed generation cannot change the sample) and
  * non-invertible (removing a sampled id cannot be backfilled from
  * bounded state — deletion is a rebuild by contract, the HLL-tier
  * honesty).
  *
  * Reference contract: `SequenceFileInputFilter.MD5Filter`
  * (mapred/SequenceFileInputFilter.java:191-208 — hash-derived
  * deterministic record selection; q19 gates the percent/regex/md5
  * filters) extended to a FIXED-SIZE selection, and
  * `lib/InputSampler.java`'s sample-k-records shape. */
object Samples {

  /** The scan-per-run sample: k smallest `hash60("smp:" + id)` with the
    * id itself as the (unreachable at 60 bits, but total) tie-break.
    * Returns `(id, hk)` — the hash rides along so the persisted tier's
    * probes and the oracle can reproduce the ranking bit for bit. The
    * cut is a TakeOrdered (per-partition top-k, no global sort
    * exchange). */
  def hashSampleTopK(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    df.select(col(idCol).as("id"),
        Portable.hash60Fast(concat(lit("smp:"),
          col(idCol).cast("string"))).as("hk"))
      .orderBy(col("hk"), col("id")).limit(k)
  }

  /** PERSIST the sample (qf8) — each generation stores one batch's own
    * min-k candidates (k rows, constant), the probe takes the global
    * min-k over all generations ([[sampleFromTable]]); the merge law
    * above makes probe == one-shot over the union definitional. Writes,
    * appends, compaction, and streamed appends are the shared
    * [[MergeTables]] lifecycle. Each row carries `kcap`, the k its
    * generation was cut at: a probe deeper than the shallowest stored
    * cut would return ranks the maintenance discarded — silently wrong
    * — so [[sampleFromTable]] REFUSES it ([[kcapOf]]) instead of the
    * count-min tier's documentation-only width/depth contract. */
  def writeSampleTable(df: DataFrame, idCol: String, k: Int,
      table: String): Unit =
    MergeTables.write(
      hashSampleTopK(df, idCol, k).withColumn("kcap", lit(k.toLong)),
      "hk", table)

  /** Append a batch's min-k candidates — see [[writeSampleTable]]. */
  def appendSampleTable(df: DataFrame, idCol: String, k: Int,
      table: String): Unit =
    MergeTables.append(
      hashSampleTopK(df, idCol, k).withColumn("kcap", lit(k.toLong)), table)

  /** The shallowest cut any stored generation was taken at — the
    * deepest rank the maintained sample can answer exactly. Reads via
    * [[MergeTables.freshView]] (heal a crashed compaction, list fresh)
    * — this guard is the first read of every probe on this tier. */
  private def kcapOf(spark: SparkSession, table: String): Long =
    MergeTables.freshView(spark, table)
      .agg(coalesce(min("kcap"), lit(Long.MaxValue)))
      .head().getLong(0)

  /** The maintained sample: global min-k over every stored generation,
    * id-deduped first so duplicate generations (an unkeyed replay, an
    * id appearing in two batches) cannot double-select — bit-equal to
    * [[hashSampleTopK]] over the union of all written/appended batches
    * (qf8's gate). Bounded work: generations hold ≤ k rows each.
    * Probing deeper than the maintenance cut fails loudly
    * ([[writeSampleTable]]). */
  def sampleFromTable(spark: SparkSession, table: String, k: Int)
      : DataFrame = {
    require(k > 0, s"k=$k")
    val cap = kcapOf(spark, table)
    require(k <= cap,
      s"probe k=$k exceeds the maintained candidate cut kcap=$cap — " +
        "ranks beyond the cut were discarded at append time; rebuild " +
        "with a larger k")
    MergeTables.freshView(spark, table).select("id", "hk").distinct()
      .orderBy(col("hk"), col("id")).limit(k)
  }

  /** Collapse all generations into the current min-k — after
    * compaction the table IS the sample, one file, k rows (and the
    * new cut: compacting at a smaller k than maintenance deliberately
    * truncates, and `kcap` records it for future probes). */
  def compactSampleTable(spark: SparkSession, table: String, k: Int)
      : Unit =
    MergeTables.compact(spark, table, "hk",
      sampleFromTable(spark, table, k)
        .withColumn("kcap", lit(k.toLong)))

  /** STRATIFIED sample: per group, the k ids with the smallest seeded
    * hash — the per-source eval holdout (every source represented, the
    * q57 stratified-split shape as a BOUNDED maintained artifact). The
    * per-group cut is a row_number window partitioned by the group —
    * bounded rows per partition for bounded group domains, the qe7
    * discipline. Same determinism and merge law as [[hashSampleTopK]],
    * per group. Returns `(g, id, hk)`. */
  def groupedHashSampleTopK(df: DataFrame, groupCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    import org.apache.spark.sql.expressions.Window
    df.select(col(groupCol).as("g"), col(idCol).as("id"),
        Portable.hash60Fast(concat(lit("smp:"),
          col(idCol).cast("string"))).as("hk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("hk"), col("id"))))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Persist the stratified sample (qf9) — per-batch per-group min-k
    * candidate generations under the shared [[MergeTables]] lifecycle;
    * the probe re-cuts the global per-group min-k
    * ([[groupedSampleFromTable]]). Carries the [[writeSampleTable]]
    * `kcap` cut guard. */
  def writeGroupedSampleTable(df: DataFrame, groupCol: String,
      idCol: String, k: Int, table: String): Unit =
    MergeTables.write(
      groupedHashSampleTopK(df, groupCol, idCol, k)
        .withColumn("kcap", lit(k.toLong)),
      "hk", table)

  /** Append a batch's per-group candidates — see
    * [[writeGroupedSampleTable]]. */
  def appendGroupedSampleTable(df: DataFrame, groupCol: String,
      idCol: String, k: Int, table: String): Unit =
    MergeTables.append(
      groupedHashSampleTopK(df, groupCol, idCol, k)
        .withColumn("kcap", lit(k.toLong)), table)

  /** The maintained stratified sample: per-group min-k over every
    * stored generation, id-deduped first (the [[sampleFromTable]]
    * idempotence argument, per group). Bit-equal to
    * [[groupedHashSampleTopK]] over the union (qf9's gate). Probing
    * deeper than the maintenance cut fails loudly. */
  def groupedSampleFromTable(spark: SparkSession, table: String, k: Int)
      : DataFrame = {
    require(k > 0, s"k=$k")
    val cap = kcapOf(spark, table)
    require(k <= cap,
      s"probe k=$k exceeds the maintained candidate cut kcap=$cap")
    import org.apache.spark.sql.expressions.Window
    MergeTables.freshView(spark, table).select("g", "id", "hk")
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("hk"), col("id"))))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Collapse a stratified sample's generations — after compaction the
    * table IS the per-group sample (at the new cut `k`, recorded in
    * `kcap`). */
  def compactGroupedSampleTable(spark: SparkSession, table: String,
      k: Int): Unit =
    MergeTables.compact(spark, table, "hk",
      groupedSampleFromTable(spark, table, k)
        .withColumn("kcap", lit(k.toLong)))

  /** TAKEDOWN whole groups from a stratified sample table (r15
    * verdict item 2): min-k is not invertible — a removed id cannot
    * be backfilled from bounded state — but whole-GROUP removal needs
    * no inverse: the revoked groups' rows are excluded from a
    * compaction's rewrite (a FILTERED compaction, the
    * [[graft.agg.ValueAggregators.retireHllGroups]] move on this
    * tier), physically gone in one pass. Per-group cuts are
    * independent, so surviving groups' holdouts are bit-unchanged.
    * The stored `kcap` cut is preserved (read back, not re-chosen),
    * so future probes keep the maintenance contract. Idempotent. */
  def retireSampleGroups(spark: SparkSession, table: String,
      groups: Seq[Any]): Unit = {
    require(groups.nonEmpty, "no groups to retire")
    val cap = kcapOf(spark, table)
    require(cap < Long.MaxValue, s"$table holds no generations")
    // null-SAFE keep predicate (the retireHllGroups argument): a null
    // stratum was not named, so its holdout must survive the rewrite
    MergeTables.compact(spark, table, "hk",
      groupedSampleFromTable(spark, table, cap.toInt)
        .filter(col("g").isNull || !col("g").isin(groups: _*))
        .withColumn("kcap", lit(cap)))
  }

  /** [[compactGroupedSampleTable]] under the generation-count
    * policy. */
  def maybeCompactGroupedSampleTable(spark: SparkSession,
      table: String, k: Int,
      maxGen: Int = MergeTables.defaultMaxGen): Boolean =
    MergeTables.maybeCompactWith(spark, table, maxGen)(
      compactGroupedSampleTable(spark, table, k))

  /** The per-micro-batch body of
    * [[startStreamAppendGroupedSampleTable]] — the keyed-skip
    * discipline, per group. */
  private def groupedCandidatesOf(groupCol: String, idCol: String,
      k: Int): DataFrame => DataFrame =
    df => groupedHashSampleTopK(df, groupCol, idCol, k)
      .withColumn("kcap", lit(k.toLong))

  private[graft] def streamAppendGroupedSampleBatch(batch: DataFrame,
      batchId: Long, groupCol: String, idCol: String, k: Int,
      table: String, lineage: Long = 0L): Unit =
    MergeTables.appendBatch(batch, batchId, table, lineage)(
      groupedCandidatesOf(groupCol, idCol, k))

  /** [[appendGroupedSampleTable]] with the DOCUMENTS ARRIVING AS A
    * STREAM — per-micro-batch per-group candidates; the probe's
    * id-dedup keeps even unkeyed replays exact (min-k algebra).
    * Returns the started query; the caller owns the trigger cadence. */
  def startStreamAppendGroupedSampleTable(docStream: DataFrame,
      groupCol: String, idCol: String, k: Int, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MergeTables.streamAppend(docStream, table)(
      groupedCandidatesOf(groupCol, idCol, k))

  /** The per-micro-batch body of [[startStreamAppendSampleTable]],
    * exposed for the replay spec. The batch key is storage hygiene
    * here (a skipped replay writes no duplicate file); correctness
    * never depended on it — the probe's id-dedup makes min-k
    * replay-idempotent by algebra, the MAX-tier argument. */
  private def candidatesOf(idCol: String, k: Int)
      : DataFrame => DataFrame =
    df => hashSampleTopK(df, idCol, k).withColumn("kcap", lit(k.toLong))

  private[graft] def streamAppendSampleBatch(batch: DataFrame,
      batchId: Long, idCol: String, k: Int, table: String): Unit =
    MergeTables.appendBatch(batch, batchId, table, 0L)(
      candidatesOf(idCol, k))

  /** [[appendSampleTable]] with the DOCUMENTS ARRIVING AS A STREAM:
    * one min-k candidate generation per micro-batch. Returns the
    * started query; the caller owns the trigger cadence. */
  def startStreamAppendSampleTable(docStream: DataFrame, idCol: String,
      k: Int, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MergeTables.streamAppend(docStream, table)(candidatesOf(idCol, k))
}
