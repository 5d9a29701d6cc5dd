package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable bounded-state quantile sketches — the missing member of the
  * approximate tier beside the portable HLL (q07b) and the count-min
  * heavy hitters (qa8/qa9). The exact-percentile operators this repo
  * already gates (q96: a distinct-value count map) carry state bounded
  * by the DOMAIN, which is fine for token lengths and unacceptable for
  * an unbounded numeric column at 100 TB; a quantile sketch carries
  * state bounded by a CONSTANT. The design here is the HDR-histogram
  * shape (log-scaled buckets with `2^subBits` linear sub-buckets per
  * octave) rather than GK/KLL/t-digest, for the same reason qa8 chose
  * count-min over SpaceSaving: every operation is INTEGER arithmetic on
  * values both engines can repeat bit for bit — bucket mapping is bit
  * length + shifts, counts are exact longs, quantile extraction is an
  * integer rank walk — so the APPROXIMATE estimates themselves are
  * oracle-gated exactly (qe4), not merely bounded. The relative-error
  * guarantee is structural: a value lands in a bucket whose width is at
  * most `2^-subBits` of its lower bound, so any quantile estimate
  * brackets the true order statistic within that relative error
  * (spec-asserted against exact percentiles, alongside the merge law).
  *
  * Mergeability is what makes it a 100 TB operator: the sketch is a
  * `(b_low, b_high, cnt)` table, so partial sketches combine by summed
  * counts — across partitions (Spark's own partial aggregation does it
  * map-side), across shards, and across micro-batches (qe5 runs the
  * same build as a complete-mode streaming aggregation whose state IS
  * the bucket table, the qa9 discipline). At `subBits = 4` the table
  * holds at most ~`16·64 + 32` rows for any long-valued input — the
  * sketch never grows with the corpus.
  *
  * Reference contract: the frequency-table + report shape of
  * `mapred/lib/aggregate/ValueHistogram.java:78-127` (whose exact
  * median walk this generalizes to bounded state), with the
  * `UniqValueCount` cap (`UniqValueCount.java:81`) as the reference's
  * own precedent for trading exactness for bounded memory. */
object Sketches {

  /** Number of linear sub-buckets per octave is `2^subBits`; relative
    * bucket width (and so the quantile bracketing error) is `2^-subBits`
    * = 6.25% at the default. */
  val defaultSubBits = 4

  /** The accepted value domain, ENFORCED (not just documented): the
    * bucket mapping is only meaningful — and only engine-portable — for
    * `0 <= v < 2^62`. Zero is fine (bit length 1 in both engines —
    * `bin(0)` and `printf('%b',0)` are both `"0"` — so it is its own
    * width-1 exact bucket); BELOW zero, Spark's truncate-toward-zero
    * `div` and DuckDB's flooring `//` diverge AND the bracketing
    * invariant breaks (a negative value would land in a bucket that
    * does not contain it); at/above 2^62, `b_high` wraps through Long
    * overflow in Spark while DuckDB raises. An out-of-domain value
    * fails LOUDLY here via `raise_error` (free on the happy path — one
    * codegen'd branch) instead of silently mis-bucketing. Callers
    * quantize doubles to integer units first (the repo's micro-unit
    * convention) and own the null policy. */
  private def guardedV(valCol: Column): Column = {
    val v = valCol.cast("long")
    // coalesce keeps the error message non-null when v itself is NULL
    // (callers own the null policy = they must filter; an unfiltered
    // null fails HERE, loudly and legibly, not as a blank exception)
    when(v >= 0L && v < (1L << 62), v).otherwise(raise_error(concat(
      lit("log-bucket sketch domain is [0, 2^62): got "),
      coalesce(v.cast("string"), lit("NULL")))))
  }


  /** The sketch itself: `(b_low, b_high, cnt)` bucket counts of a
    * long-valued column in the enforced `[0, 2^62)` domain
    * ([[guardedV]]) — ONE definition for the ungrouped (qe4), grouped
    * (qe7) and persisted (qe8, qf7) tiers, so the mapping cannot drift
    * between them. One map-side projection plus a bounded aggregation:
    * the shuffle after partial aggregation carries at most the
    * bucket-table rows per task, regardless of input size.
    *
    * With `group`, one bucket table per key: `(g, b_low, b_high, cnt)`
    * — the dataset-card shape (q96's per-source percentile profile) at
    * `groups × buckets` state, bounded as long as the group domain is
    * (event types, sources, languages; NOT user ids).
    *
    * Bucket mapping, all integer (no float log2 anywhere): values below
    * `2^(subBits+1)` are their own bucket (width 1, exact); above, the
    * bucket keeps the value's top `subBits + 1` bits and zeroes the
    * rest — `n = length(bin(v))` is the bit length, `p = 1 << (n - 1 -
    * subBits)` the bucket width, `b_low = (v div p) · p` (the shift is
    * `greatest`-guarded so the small-value branch never evaluates a
    * negative shift — DuckDB's `<<` rejects those, and the twins must
    * compute the same expression). */
  def logBucketCounts(rows: DataFrame, valCol: Column,
      subBits: Int = defaultSubBits, group: Option[Column] = None)
      : DataFrame = {
    val g = group.map(_.as("g")).toSeq
    val names = group.map(_ => "g").toSeq
    rows.select(g :+ guardedV(valCol).as("v"): _*)
      .withColumn("nb", length(bin(col("v"))))
      .withColumn("p", expr(
        s"shiftleft(cast(1 as bigint), greatest(nb - 1 - $subBits, 0))"))
      .select(names.map(col) :+
        when(col("nb") <= subBits + 1, col("v"))
          .otherwise(expr("(v div p) * p")).as("b_low") :+
        when(col("nb") <= subBits + 1, col("v"))
          .otherwise(expr("(v div p + 1) * p - 1")).as("b_high"): _*)
      .groupBy((names :+ "b_low" :+ "b_high").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile extraction from a bucket table — the rank walk, per group
    * when the table carries `g` ([[MergeTables.groupKeys]]), global
    * otherwise: the target rank is `ceil(p·N/100)` and the estimate is
    * the first bucket, in value order, whose cumulative count reaches
    * it. The true p-th-percentile order statistic provably lies inside
    * the returned `[est_low, est_high]` (the walk over value-ordered
    * buckets is the same walk sorted data would take), so the
    * bracketing claim is structural, not statistical. Returns
    * `([g,] pct, target_rank, est_low, est_high)`; groups with no rows
    * vanish. All work here is over the BUCKET TABLE — bounded rows by
    * construction — so the windows/joins are sketch-sized (the qa8
    * TakeOrdered class), including the single-partition window of the
    * ungrouped case; the grouped window partitions by group. */
  def quantilesFromBuckets(buckets: DataFrame, percents: Seq[Int])
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = buckets.sparkSession
    import spark.implicits._
    val g = MergeTables.groupKeys(buckets)
    val cum = buckets.withColumn("cum",
      sum("cnt").over(Window.partitionBy(g.map(col): _*).orderBy("b_low")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals =
      if (g.isEmpty) buckets.agg(coalesce(sum("cnt"), lit(0L)).as("total"))
      else buckets.groupBy(g.map(col): _*)
        .agg(coalesce(sum("cnt"), lit(0L)).as("total"))
    // targets and cum share lineage (both derive from `buckets`), so
    // the group-key equality must compare ALIASED sides — qualified
    // column refs, not df("col") attribute picks, which carry the same
    // exprId on both sides of a self-join (Spark disambiguates those
    // via dataset ids, but only after warning; the alias form is
    // unambiguous by construction)
    val targets = totals.crossJoin(broadcast(percents.toDF("pct")))
      .select(g.map(col) :+ col("pct") :+
        expr("(pct * total + 99) div 100").as("target_rank"): _*)
      .alias("qt")
    targets.join(broadcast(cum.alias("qc")),
        g.map(n => col(s"qt.$n") === col(s"qc.$n"))
          .foldLeft(col("qc.cum") >= col("qt.target_rank"))(_ && _))
      .select(g.map(n => col(s"qt.$n").as(n)) :+ col("qt.pct") :+
        col("qt.target_rank") :+ col("qc.b_low"): _*)
      .groupBy((g :+ "pct" :+ "target_rank").map(col): _*)
      .agg(min("b_low").as("est_low"))
      .join(broadcast(buckets.select(g.map(col) :+
        col("b_low").as("est_low") :+ col("b_high").as("est_high"): _*)),
        g :+ "est_low")
      .select((g :+ "pct" :+ "target_rank" :+ "est_low" :+ "est_high")
        .map(col): _*)
  }

  /** [[logBucketCounts]] + [[quantilesFromBuckets]] composed — the qe4
    * row's shape (qe7's with `group`): quantile estimates of a positive
    * long column with sketch-bounded state end to end. */
  def logBucketQuantiles(rows: DataFrame, valCol: Column,
      percents: Seq[Int], subBits: Int = defaultSubBits,
      group: Option[Column] = None): DataFrame =
    quantilesFromBuckets(logBucketCounts(rows, valCol, subBits, group),
      percents)

  /** Persist a sketch as a table (qe8; qf7 with `group`) — the
    * approximate tier joining the write-once-probe-many contract of the
    * three index tiers, at a fraction of their machinery because the
    * sketch is INTEGER-ADDITIVE: the stored artifact is just
    * `([g,] b_low, b_high, cnt, gen, batch_key)` bucket rows, an append
    * lands a new batch's bucket counts as one more file generation (the
    * stored side is never read, merged, or rewritten — counts merge AT
    * PROBE TIME by an exact long sum, order-independent by
    * construction), and the probe's merged table is bit-equal to a
    * sketch over the union. Crash safety needs no commit protocol: each
    * append is ONE coalesced single-file write, whose visibility is one
    * rename — a crashed append leaves the exact pre-append state.
    * Replay idempotence (counts are additive, so a re-delivered batch
    * would otherwise double-count) comes from the deterministic
    * `batch_key` riding the data rows themselves. STREAMED appends key
    * their micro-batches automatically ([[startStreamAppendSketchTable]]);
    * a BATCH caller who may retry keys its appends the same way through
    * [[appendSketchTableKeyed]] (the unkeyed [[appendSketchTable]]
    * remains for callers whose delivery is already exactly-once).
    * Deletion is [[retractSketchTable]] (additive retraction, no
    * tombstones to store); [[compactSketchTable]] collapses
    * generations. Every later call's grouping must match the table's
    * ([[MergeTables.requireGrouping]]). */
  def writeSketchTable(rows: DataFrame, valCol: Column, table: String,
      subBits: Int = defaultSubBits, group: Option[Column] = None): Unit =
    MergeTables.write(logBucketCounts(rows, valCol, subBits, group),
      "b_low", table)

  /** Append a batch's bucket counts to a persisted sketch — one
    * sketch-sized single-file write, archive-independent cost
    * ([[MergeTables.append]]). */
  def appendSketchTable(rows: DataFrame, valCol: Column, table: String,
      subBits: Int = defaultSubBits, group: Option[Column] = None): Unit = {
    MergeTables.requireGrouping(rows.sparkSession, table, group.isDefined)
    MergeTables.append(logBucketCounts(rows, valCol, subBits, group),
      table)
  }

  /** [[appendSketchTable]] under a caller-supplied idempotence key
    * ([[MergeTables.appendKeyed]]): allocate a lineage once
    * ([[MergeTables.allocLineage]]), number the batches, and a RETRIED
    * delivery of a committed batch is an exact no-op — the probe after
    * a retry is bit-equal to the probe after a single delivery, across
    * compactions too (the key survives into the high-water-mark
    * sidecar). Returns true iff the batch appended. */
  def appendSketchTableKeyed(rows: DataFrame, valCol: Column,
      table: String, lineage: Long, batchId: Long,
      subBits: Int = defaultSubBits): Boolean = {
    MergeTables.requireGrouping(rows.sparkSession, table, grouped = false)
    MergeTables.appendKeyed(logBucketCounts(rows, valCol, subBits),
      table, lineage, batchId)
  }

  /** DELETE from a persisted sketch by additive retraction — the
    * approximate tier's member of the delete matrix (qd3/qd4/qd7),
    * cheaper than all of them because the sketch's own algebra does
    * the work: the retracted rows' bucket counts land NEGATED as one
    * more generation (same single-file atomic append as
    * [[appendSketchTable]], stored side never read), and the probe-time
    * sum cancels them exactly — the probe of a build+retract table is
    * bit-equal to a one-shot sketch over the corpus minus the retracted
    * rows (per group with `group`). CONTRACT: `rows` must be (a
    * sub-multiset of) rows previously added — retracting rows never
    * added drives some bucket's merged count negative, which the probe
    * and compactor refuse loudly ([[MergeTables.mergedSum]]) rather
    * than emit a corrupt estimate. Fully-cancelled buckets vanish from
    * the probe and from disk at the next compaction. */
  def retractSketchTable(rows: DataFrame, valCol: Column, table: String,
      subBits: Int = defaultSubBits, group: Option[Column] = None): Unit = {
    MergeTables.requireGrouping(rows.sparkSession, table, group.isDefined)
    MergeTables.append(logBucketCounts(rows, valCol, subBits, group)
      .withColumn("cnt", -col("cnt")), table)
  }

  /** Probe-time generation merge, shared by the probe, the compactor
    * and retirement ([[MergeTables.mergedSum]]: exact long sums per
    * `([g,] b_low, b_high)`, fully-cancelled buckets dropped, negative
    * merged counts fail loudly). */
  private def mergedBuckets(spark: SparkSession, table: String)
      : DataFrame =
    MergeTables.mergedSum(spark, table,
      MergeTables.groupKeys(spark, table) :+ "b_low" :+ "b_high", "cnt")

  /** Quantiles from a persisted sketch — per group when the table is
    * grouped (read from its stored schema): generations merge by exact
    * long sums (sketch-sized work), then the rank walk. The probe of a
    * build+append table is bit-equal to [[logBucketQuantiles]] over
    * the union corpus — qe8 shares qe4's oracle on that strength — and
    * of a build+retract table to the sketch over the surviving rows
    * (qf2's gate). */
  def quantilesFromSketchTable(spark: SparkSession, table: String,
      percents: Seq[Int]): DataFrame =
    quantilesFromBuckets(mergedBuckets(spark, table), percents)

  /** Compact a persisted sketch: collapse all generations (appends AND
    * retractions) into a single gen-0 file — the approximate tier's
    * member of the compaction matrix (qd2/qd4/qd5). The rewrite is the
    * probe's own merge ([[mergedBuckets]], sketch-sized), so compacted
    * == appended == rebuilt is definitional; fully-cancelled buckets
    * are physically dropped. The rewrite resets `batch_key` to −1,
    * which is what permits a FRESH streaming lineage after a
    * compaction. With `maxGen > 0` it compacts only once more than
    * `maxGen` generations have accumulated — the auto-compaction policy
    * a maintenance loop calls after its appends, INCLUDING inside a
    * live streaming lineage ([[MergeTables.compactIfOver]]; qfh gates
    * the composition). Returns true iff it compacted. */
  def compactSketchTable(spark: SparkSession, table: String,
      maxGen: Int = 0): Boolean =
    MergeTables.compact(spark, table, "b_low",
      mergedBuckets(spark, table), maxGen)

  /** RETENTION for time-keyed maintained profiles (the qfa shape):
    * retract every group of a grouped sketch whose key sorts below
    * `cutoff` — "drop hours older than T" — bounding the state of an
    * unbounded-time stream's profile by the retention window. The
    * machinery is the grouped retraction the tier already has, fed
    * from STORED state alone: the expired groups' own merged bucket
    * counts land negated as one more generation (state-sized work —
    * no corpus read, no tombstones), the probe-time sum cancels them
    * to nothing (fully-cancelled buckets drop at merge, so expired
    * groups vanish from every probe immediately), and the next
    * compaction removes them physically (spec-gated). Idempotent: a
    * second call finds nothing left to retract. Only meaningful for
    * ordered group keys (epoch hours/days — qfa's), not categorical
    * ones. The expired state is materialized (localCheckpoint, bounded
    * by the groups × buckets contract) before the append so the write
    * never scans the table it is appending to. */
  def retireGroupsBefore(spark: SparkSession, table: String,
      cutoff: Long): Unit =
    retireGroupsMatching(spark, table, col("g") < cutoff)

  /** TAKEDOWN named groups from a grouped sketch — the categorical-key
    * form of [[retireGroupsBefore]] (a revoked source leaves the
    * maintained per-source profile from stored state alone, the qfe
    * story on this tier). */
  def retireGroups(spark: SparkSession, table: String,
      groups: Seq[Any]): Unit = {
    require(groups.nonEmpty, "no groups to retire")
    retireGroupsMatching(spark, table, col("g").isin(groups: _*))
  }

  private def retireGroupsMatching(spark: SparkSession, table: String,
      pred: Column): Unit = {
    MergeTables.requireGrouping(spark, table, grouped = true)
    val expired = mergedBuckets(spark, table)
      .filter(pred)
      .withColumn("cnt", -col("cnt"))
      .localCheckpoint()
    if (!expired.isEmpty)
      MergeTables.append(expired, table)
  }

  /** The foreachBatch body of [[startStreamAppendSketchTable]], exposed
    * for the replay spec and the hand-rolled maintenance loops (qfg,
    * qfh, qfk, [[DatasetCard.maintainBatch]]): append `batch`'s bucket
    * counts under the deterministic key of `batchId` unless that key
    * already appears in the stored rows — a replayed committed
    * micro-batch (foreachBatch's at-least-once window between a commit
    * and the checkpoint offset write) is detected and becomes an exact
    * no-op, closing the double-count hazard the additive merge would
    * otherwise have. The key rides the generation's own rows, so
    * detection and the counts it guards commit in the same single-file
    * rename. */
  private[graft] def streamAppendSketchBatch(batch: DataFrame,
      batchId: Long, valCol: Column, table: String,
      subBits: Int = defaultSubBits, lineage: Long = 0L,
      group: Option[Column] = None): Unit =
    MergeTables.appendBatch(batch, batchId, table, lineage)(
      logBucketCounts(_, valCol, subBits, group))

  /** [[appendSketchTable]] with the VALUES ARRIVING AS A STREAM — each
    * micro-batch lands its bucket counts as one generation under a
    * deterministic per-lineage commit key, so K streamed micro-batches
    * == one one-shot append == a rebuild over the union (probe-exact,
    * the additive merge law), and a replayed committed batch is
    * skipped instead of double-counted ([[streamAppendSketchBatch]],
    * replay spec-gated). For the event-time windowed profile (qfa,
    * `group` = the hour) this is the watermark-free late-data path: a
    * late event's batch lands one more exact +1 in its hour's bucket,
    * whenever it arrives. A mismatched grouping is refused at start.
    * Returns the started query; the caller owns the trigger cadence
    * (`EventStreams.drain` for the blocking form). */
  def startStreamAppendSketchTable(stream: DataFrame, valCol: Column,
      table: String, subBits: Int = defaultSubBits,
      group: Option[Column] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    MergeTables.requireGrouping(stream.sparkSession, table,
      group.isDefined)
    MergeTables.streamAppend(stream, table)(
      logBucketCounts(_, valCol, subBits, group))
  }

  /** [[logBucketQuantiles]] with the VALUES ARRIVING AS A STREAM — the
    * quantile analog of qa9's streaming count-min: the bucket build
    * runs as ONE complete-mode streaming aggregation whose state is
    * the bounded bucket table (no watermark, no replay — counts are
    * additive across micro-batches by the merge law), and each batch's
    * foreachBatch re-derives the quantile report from the full state,
    * overwriting `sinkDir` so the final read-back is the
    * latest-complete-state report. Stream == batch == oracle: the
    * complete-mode state after K micro-batches is bit-equal to the
    * batch sketch over their union, so qe5 shares qe4's oracle
    * verbatim (two-micro-batch MemoryStream spec gates the equality).
    * Initializes the sink with a zero-row typed frame so an empty
    * stream reads back well-typed. Returns the started query; the
    * caller owns the trigger cadence and reads the sink back. The
    * state is ≤62 widths × 2^subBits sub-buckets — a caller that drains
    * it scopes the state-store partition count to that bound
    * (`EventStreams.withBoundedStateShuffle`, qe5). */
  def startStreamLogBucketQuantiles(stream: DataFrame, valCol: Column,
      percents: Seq[Int], sinkDir: String,
      subBits: Int = defaultSubBits)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    import spark.implicits._
    quantilesFromBuckets(
      Seq.empty[(Long, Long, Long)].toDF("b_low", "b_high", "cnt"),
      percents).write.mode("overwrite").parquet(sinkDir)
    logBucketCounts(stream, valCol, subBits).writeStream
      .outputMode("complete")
      .foreachBatch { (state: DataFrame, _: Long) =>
        quantilesFromBuckets(state, percents)
          .write.mode("overwrite").parquet(sinkDir)
      }
      .start()
  }
}
