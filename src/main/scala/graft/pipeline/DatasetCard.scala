package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dataset card as a SELF-MAINTAINING artifact (qff) — the
  * composition the four maintained tiers exist for, closed under
  * streaming: ONE maintenance loop consumes the document stream and,
  * per micro-batch, lands one generation in EACH of the four card
  * tables — per-source length sketch ([[Sketches]]), per-source
  * count-min counters ([[TextAnalysis]]), per-source distinct-token
  * HLL registers ([[graft.agg.ValueAggregators]]), and the per-source
  * min-k eval holdout ([[Samples]]) — under ONE shared deterministic
  * (lineage, batchId) key. Each table's append is the single-file
  * atomic rename of its tier, independently replay-guarded by the
  * shared key, so the multi-table "transaction" needs no coordinator:
  * a crash that lands 2 of 4 tables retries the batch, the 2 committed
  * tables skip on their keys, the other 2 append — per-table
  * exactly-once within the lineage, spec-gated. The card probe
  * ([[card]]) then reads TABLES ONLY (the qfd plan assertion's shape):
  * the dataset card maintains itself from the stream and is served
  * without ever scanning the corpus.
  *
  * Compaction note: since r16 the tier compactors, called with a
  * `maxGen` threshold, may run INSIDE this loop too — compaction
  * carries each lineage's replay high-water mark through the rewrite
  * ([[MergeTables.hwmTable]]), so a checkpoint-resumed lineage still
  * skips its committed batches exactly. */
object DatasetCard {

  /** Start the maintenance loop. The four tables must exist (write
    * their generation 0 from the initial batch corpus first — the
    * tiers' append contract), the three `g`-keyed tables must be
    * grouped, and the count-min table's stored (width, depth) must
    * match the loop's — checked BEFORE the first batch lands
    * ([[TextAnalysis.requireCmTable]], ADVICE r15: a mismatched
    * maintenance loop would poison every future probe as a
    * mixed-params failure discovered only at probe time). The loop is
    * [[MergeTables.startKeyedStream]] over all four tables as key
    * tables: one lineage id serves all four — registered on EVERY table
    * so a concurrent loop sharing any one of them cannot draw the same
    * id — and the writer lease is held on all four for the loop's
    * lifetime. Returns the started query; the caller owns the trigger
    * cadence. */
  def startMaintain(docStream: DataFrame, lenTable: String,
      cmTable: String, hllTable: String, smpTable: String, k: Int,
      width: Int = 1024, depth: Int = 4,
      maxGen: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docStream.sparkSession
    TextAnalysis.requireCmTable(spark, cmTable, width, depth,
      grouped = true)
    Seq(lenTable, smpTable).foreach(
      MergeTables.requireGrouping(spark, _, grouped = true))
    MergeTables.startKeyedStream(docStream,
        Seq(lenTable, cmTable, hllTable, smpTable)) {
      (batch, batchId, lineage) =>
        maintainBatch(batch, batchId, lenTable, cmTable, hllTable,
          smpTable, k, width, depth, lineage, maxGen)
    }
  }

  /** One micro-batch into all four tables — exposed for the partial-
    * crash replay spec (re-deliver a batchId after only SOME tables
    * committed; the committed ones must skip, the others append). The
    * batch is CACHED across the four appends (r15 verdict item 7):
    * each append is its own Spark job, and without the cache the
    * source micro-batch — cheap from a MemoryStream, a re-read from
    * Kafka/files in production — would be recomputed four times per
    * commit (spec-gated: the batch's rows materialize once). */
  private[graft] def maintainBatch(batch: DataFrame, batchId: Long,
      lenTable: String, cmTable: String, hllTable: String,
      smpTable: String, k: Int, width: Int, depth: Int,
      lineage: Long, maxGen: Option[Int] = None): Unit = {
    val b = batch.persist()
    try {
      // len leg skips null text (the card oracle's baseWhere; the other
      // legs are null-transparent — split/explode skip null text rows)
      Sketches.streamAppendSketchBatch(b.filter(col("text").isNotNull),
        batchId, length(col("text")), lenTable, lineage = lineage,
        group = Some(col("source")))
      TextAnalysis.streamAppendCountMinBatch(b, batchId, "text", cmTable,
        width, depth, lineage, group = Some("source"))
      MergeTables.appendBatch(b, batchId, hllTable, lineage)(
        x => graft.agg.ValueAggregators.hllRegisters(
          x.select(col("source"), explode(
            expr("filter(split(text, ' '), x -> length(x) > 0)"))
            .as("tok")),
          col("source"), col("tok")))
      Samples.streamAppendSampleBatch(b, batchId, "doc_id", k, smpTable,
        lineage, group = Some("source"))
    } finally {
      b.unpersist()
      ()
    }
    // the unattended-forever policy (qfl): with maxGen set, each tier
    // auto-compacts INSIDE the loop once its generation count passes
    // the threshold — safe mid-lineage since r16 because compaction
    // carries the lineage's replay high-water mark
    // ([[MergeTables.hwmTable]]); the loop needs no human to stop it
    // for maintenance, ever
    maxGen.foreach { mg =>
      val spark = batch.sparkSession
      Sketches.compactSketchTable(spark, lenTable, mg)
      TextAnalysis.compactCountMinTable(spark, cmTable, mg)
      graft.agg.ValueAggregators.compactHllTable(spark, hllTable, mg)
      Samples.compactSampleTable(spark, smpTable, k, mg)
      ()
    }
  }

  /** TAKEDOWN one source from the WHOLE card, end to end from stored
    * state (r15 verdict item 2 — qfe's discipline at card level): the
    * two SUM-monoid tiers retract the source's own merged state and
    * compact it away physically ([[Sketches.retireGroups]],
    * [[TextAnalysis.retireCountMinGroups]]); the MAX and MIN-K tiers,
    * which have no inverse, remove the source's rows by FILTERED
    * compaction ([[graft.agg.ValueAggregators.retireHllGroups]],
    * [[Samples.retireSampleGroups]]). After this call the source is
    * physically absent from all four tables (spec-gated) and [[card]]
    * serves the card of the corpus minus the source — no corpus read
    * anywhere. Run it between maintenance batches of a LIVE loop or
    * offline; it is a compaction on every tier, so streaming replay
    * keys survive ([[MergeTables.hwmTable]]). */
  def retireSource(spark: SparkSession, lenTable: String,
      cmTable: String, hllTable: String, smpTable: String,
      source: String): Unit = {
    Sketches.retireGroups(spark, lenTable, Seq(source))
    Sketches.compactSketchTable(spark, lenTable)
    TextAnalysis.retireCountMinGroups(spark, cmTable, Seq(source))
    TextAnalysis.compactCountMinTable(spark, cmTable)
    graft.agg.ValueAggregators.retireHllGroups(spark, hllTable,
      Seq(source))
    Samples.retireSampleGroups(spark, smpTable, Seq(source))
  }

  /** The card probe — one row per source from TABLES ONLY (the qfd
    * plan assertion: no corpus scan exists structurally). Shared by
    * qfd (batch-maintained tables over the survivor set), qff (the
    * self-maintained tables of [[startMaintain]]), and qfi (the
    * post-takedown card), so the rows cannot drift in shape. The four
    * legs join FULL OUTER on the source and a leg missing a source
    * the others carry fails LOUDLY (ADVICE r15: the former inner join
    * silently dropped a partially-covered source — e.g. one whose
    * every document has null text never enters the length sketch —
    * and the oracle joined the same way, so the gate could not see
    * the omission; when the legs agree, the outer join is
    * row-identical to the inner one, so the oracle equality is
    * untouched). */
  def card(spark: SparkSession, lenTable: String, cmTable: String,
      hllTable: String, smpTable: String, auditToks: Seq[String],
      k: Int, pcts: Seq[Int], width: Int = 1024, depth: Int = 4)
      : DataFrame = {
    val lens = Sketches.quantilesFromSketchTable(spark, lenTable, pcts)
      .groupBy("g").agg(
        max(when(col("pct") === 50, col("est_low"))).as("len_p50_lo"),
        max(when(col("pct") === 50, col("est_high"))).as("len_p50_hi"),
        max(when(col("pct") === 99, col("est_low"))).as("len_p99_lo"),
        max(when(col("pct") === 99, col("est_high"))).as("len_p99_hi"))
    val ests = TextAnalysis.groupedCountMinTokenEstimates(spark,
      cmTable, auditToks, width = width, depth = depth)
    val hhCols = auditToks.map(t =>
      max(when(col("tok") === t, col("est"))).as(s"est_$t"))
    val hh = ests.groupBy("g").agg(hhCols.head, hhCols.tail: _*)
    val dt = graft.agg.ValueAggregators.hllEstimateFromTable(spark,
        hllTable)
      .select(col("key").as("g"), col("est").as("distinct_tokens"))
    val sm = Samples.sampleFromTable(spark, smpTable, k)
      .groupBy("g").agg(concat_ws(",",
        transform(
          array_sort(collect_list(struct(col("hk"), col("id")))),
          x => x.getField("id").cast("string"))).as("holdout_ids"))
    // every per-leg column below is non-null by construction (sums,
    // maxes, concat_ws over at least one row), so a null AFTER the
    // full outer join means exactly "this leg has no row for this
    // source" — the condition that must surface, not vanish
    val guard = (legCol: String, leg: String) =>
      when(col(legCol).isNotNull, col(legCol)).otherwise(raise_error(
        concat(lit(s"dataset card: source "), col("g").cast("string"),
          lit(s" is missing from the $leg table — a partially-covered " +
            "source must be repaired, not silently dropped"))))
    lens.join(hh, Seq("g"), "full_outer")
      .join(dt, Seq("g"), "full_outer")
      .join(sm, Seq("g"), "full_outer")
      .select(col("g").as("source") +:
        guard("len_p50_lo", "length-sketch").as("len_p50_lo") +:
        col("len_p50_hi") +: col("len_p99_lo") +: col("len_p99_hi") +:
        auditToks.map(t =>
          guard(s"est_$t", "count-min").as(s"est_$t")) :+
        guard("distinct_tokens", "HLL").as("distinct_tokens") :+
        guard("holdout_ids", "sample").as("holdout_ids"): _*)
  }
}
