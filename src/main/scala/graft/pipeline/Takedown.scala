package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operational takedown runbook as ONE call (r15 verdict item 8):
  * when a source's license is revoked, its documents must leave every
  * PERSISTED INDEX — lexical postings, dense ADC codes, minhash band
  * signatures — not just the summary tiers
  * ([[DatasetCard.retireSource]] covers those). The id set is derived
  * from the documents table ONCE (materialized, so three deletes cost
  * one derivation scan) and driven through each tier's own gated
  * delete: BM25 tombstones + scalar retraction
  * ([[TextAnalysis.deleteBm25Docs]]), ADC tombstones
  * ([[Similarity.deleteIvfVecsSharded]]), minhash tombstones
  * ([[Dedup.deleteMinhashDocs]]). Each delete is idempotent for
  * absent/already-deleted ids, so re-running a takedown (or taking
  * down a source with no vectors) is a no-op, and each tier's
  * compactor later removes the rows physically. Gated end-to-end by
  * qfj: post-takedown probes on all three indexes equal their tiers'
  * chains over the corpus minus the source, with ONE single-sourced
  * WHERE.
  *
  * Reference contract: the record-level delete story the reference
  * lacks entirely — its closest analog is rewriting a `MapFile`
  * without the dropped keys (io/MapFile.java:49), which is exactly
  * what each tier's compaction does with the tombstones this call
  * plants. */
object Takedown {

  /** Tombstone every id of `source` (per `docs`' `srcCol`/`idCol`)
    * in the three persisted indexes. Probes reflect the takedown
    * immediately (tombstone anti-joins); compaction makes it
    * physical. The dense delete runs FIRST: it is the one tier that
    * refuses ids (negative ids break its shard routing law), and a
    * refusal there must leave all three indexes untouched rather than
    * half taken down. */
  def takedownSource(spark: SparkSession, docs: DataFrame,
      srcCol: String, idCol: String, source: String,
      bm25Table: String, adcTable: String, minhashTable: String)
      : Unit = {
    // ONE derivation scan for all three tiers: the id set is
    // takedown-sized, so materializing it beats re-reading the
    // corpus-sized documents table per delete
    val ids = docs.filter(col(srcCol) === source)
      .select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint()
    Similarity.deleteIvfVecsSharded(spark, adcTable, ids, "id")
    TextAnalysis.deleteBm25Docs(spark, bm25Table, ids, "id")
    Dedup.deleteMinhashDocs(spark, minhashTable, ids, "id")
  }
}
