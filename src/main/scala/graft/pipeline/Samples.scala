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
    * probes and the oracle can reproduce the ranking bit for bit.
    *
    * With `group`, the STRATIFIED sample: per group, the k ids with the
    * smallest seeded hash — the per-source eval holdout (every source
    * represented, the q57 stratified-split shape as a BOUNDED
    * maintained artifact), same determinism and merge law per group.
    * Returns `(g, id, hk)`. */
  def hashSampleTopK(df: DataFrame, idCol: String, k: Int,
      group: Option[String] = None): DataFrame =
    minK(df.select(group.map(col(_).as("g")).toSeq :+
        col(idCol).as("id") :+ Portable.hash60Fast(concat(lit("smp:"),
          col(idCol).cast("string"))).as("hk"): _*), k)

  /** The min-k cut by `(hk, id)` — per group when the rows carry `g`
    * ([[MergeTables.groupKeys]]), global otherwise. The global cut is a
    * TakeOrdered (per-partition top-k, no global sort exchange); the
    * per-group cut is a row_number window partitioned by the group —
    * bounded rows per partition for bounded group domains, the qe7
    * discipline. */
  private def minK(rows: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    import org.apache.spark.sql.expressions.Window
    MergeTables.groupKeys(rows) match {
      case Seq() => rows.orderBy(col("hk"), col("id")).limit(k)
      case g => rows.withColumn("rn", row_number().over(
          Window.partitionBy(g.map(col): _*).orderBy(col("hk"), col("id"))))
        .filter(col("rn") <= k).drop("rn")
    }
  }

  /** A batch's min-k candidates with the `kcap` cut they were taken at
    * — the state every write, append and streamed batch lands. */
  private def candidatesOf(idCol: String, k: Int, group: Option[String])
      : DataFrame => DataFrame =
    hashSampleTopK(_, idCol, k, group).withColumn("kcap", lit(k.toLong))

  /** PERSIST the sample (qf8; the stratified qf9 with `group`) — each
    * generation stores one batch's own min-k candidates (k rows per
    * group, constant), the probe takes the global min-k over all
    * generations ([[sampleFromTable]]); the merge law above makes
    * probe == one-shot over the union definitional. Writes, appends,
    * compaction, and streamed appends are the shared [[MergeTables]]
    * lifecycle, and every later call's grouping must match the
    * table's ([[MergeTables.requireGrouping]]). Each row carries
    * `kcap`, the k its generation was cut at: a probe deeper than the
    * shallowest stored cut would return ranks the maintenance
    * discarded — silently wrong — so [[sampleFromTable]] REFUSES it
    * ([[kcapOf]]) instead of the count-min tier's documentation-only
    * width/depth contract. */
  def writeSampleTable(df: DataFrame, idCol: String, k: Int,
      table: String, group: Option[String] = None): Unit =
    MergeTables.write(candidatesOf(idCol, k, group)(df), "hk", table)

  /** Append a batch's min-k candidates — see [[writeSampleTable]]. */
  def appendSampleTable(df: DataFrame, idCol: String, k: Int,
      table: String, group: Option[String] = None): Unit = {
    MergeTables.requireGrouping(df.sparkSession, table, group.isDefined)
    MergeTables.append(candidatesOf(idCol, k, group)(df), table)
  }

  /** The shallowest cut any stored generation was taken at — the
    * deepest rank the maintained sample can answer exactly. Reads via
    * [[MergeTables.freshView]] (heal a crashed compaction, list fresh)
    * — this guard is the first read of every probe on this tier. */
  private def kcapOf(spark: SparkSession, table: String): Long =
    MergeTables.freshView(spark, table)
      .agg(coalesce(min("kcap"), lit(Long.MaxValue)))
      .head().getLong(0)

  /** The maintained sample: min-k over every stored generation — per
    * group when the table is grouped (read from its stored schema) —
    * id-deduped first so duplicate generations (an unkeyed replay, an
    * id appearing in two batches) cannot double-select — bit-equal to
    * [[hashSampleTopK]] over the union of all written/appended batches
    * (qf8's and qf9's gates). Bounded work: generations hold ≤ k rows
    * per group each. Probing deeper than the maintenance cut fails
    * loudly ([[writeSampleTable]]). */
  def sampleFromTable(spark: SparkSession, table: String, k: Int)
      : DataFrame = {
    require(k > 0, s"k=$k")
    val cap = kcapOf(spark, table)
    require(k <= cap,
      s"probe k=$k exceeds the maintained candidate cut kcap=$cap — " +
        "ranks beyond the cut were discarded at append time; rebuild " +
        "with a larger k")
    val stored = MergeTables.freshView(spark, table)
    minK(stored.select(MergeTables.groupKeys(stored).map(col) :+
      col("id") :+ col("hk"): _*).distinct(), k)
  }

  /** Collapse all generations into the current min-k — after
    * compaction the table IS the sample, one file, k rows per group
    * (and the new cut: compacting at a smaller k than maintenance
    * deliberately truncates, and `kcap` records it for future
    * probes). `maxGen > 0` compacts only above that many generations
    * ([[MergeTables.compactIfOver]]); returns true iff it compacted. */
  def compactSampleTable(spark: SparkSession, table: String, k: Int,
      maxGen: Int = 0): Boolean =
    MergeTables.compact(spark, table, "hk",
      sampleFromTable(spark, table, k)
        .withColumn("kcap", lit(k.toLong)), maxGen)

  /** TAKEDOWN whole groups from a stratified sample table: min-k is not
    * invertible — a removed id cannot be backfilled from bounded state
    * — but whole-GROUP removal needs no inverse: the revoked groups'
    * rows are excluded from a compaction's rewrite (a FILTERED
    * compaction, the [[graft.agg.ValueAggregators.retireHllGroups]]
    * move on this tier), physically gone in one pass. Per-group cuts
    * are independent, so surviving groups' holdouts are bit-unchanged.
    * The stored `kcap` cut is preserved (read back, not re-chosen), so
    * future probes keep the maintenance contract. Idempotent. */
  def retireSampleGroups(spark: SparkSession, table: String,
      groups: Seq[Any]): Unit = {
    require(groups.nonEmpty, "no groups to retire")
    MergeTables.requireGrouping(spark, table, grouped = true)
    val cap = kcapOf(spark, table)
    require(cap < Long.MaxValue, s"$table holds no generations")
    // null-SAFE keep predicate (the retireHllGroups argument): a null
    // stratum was not named, so its holdout must survive the rewrite
    MergeTables.compact(spark, table, "hk",
      sampleFromTable(spark, table, cap.toInt)
        .filter(col("g").isNull || !col("g").isin(groups: _*))
        .withColumn("kcap", lit(cap)))
  }

  /** The per-micro-batch body of [[startStreamAppendSampleTable]],
    * exposed for the replay spec and [[DatasetCard.maintainBatch]].
    * The batch key is storage hygiene here (a skipped replay writes no
    * duplicate file); correctness never depended on it — the probe's
    * id-dedup makes min-k replay-idempotent by algebra, the MAX-tier
    * argument. */
  private[graft] def streamAppendSampleBatch(batch: DataFrame,
      batchId: Long, idCol: String, k: Int, table: String,
      lineage: Long = 0L, group: Option[String] = None): Unit =
    MergeTables.appendBatch(batch, batchId, table, lineage)(
      candidatesOf(idCol, k, group))

  /** [[appendSampleTable]] with the DOCUMENTS ARRIVING AS A STREAM: one
    * min-k candidate generation per micro-batch (per group with
    * `group`); a mismatched grouping is refused at start. Returns the
    * started query; the caller owns the trigger cadence. */
  def startStreamAppendSampleTable(docStream: DataFrame, idCol: String,
      k: Int, table: String, group: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    MergeTables.requireGrouping(docStream.sparkSession, table,
      group.isDefined)
    MergeTables.streamAppend(docStream, table)(
      candidatesOf(idCol, k, group))
  }
}
