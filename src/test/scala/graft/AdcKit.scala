package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity

/** Spec helpers for the persisted IVF-ADC index, most often at its
  * unsharded point (nShards = 1): the tables an index leaves behind,
  * its stored and live rows, its active epoch, and its probe. */
object AdcKit {
  private lazy val spark = SparkTest.spark

  /** Drop every table an index named `t` can leave behind, shadows of
    * interrupted swaps included. */
  def drop(names: String*): Unit =
    for (t <- names; sfx <- Seq("_sh", "_serve", "_sv", "_sv_c", "_sv_g",
        "_sv_t", "_sv_g_hwm");
        shadow <- Seq("", "_compact_shadow"))
      spark.sql(s"DROP TABLE IF EXISTS `$t$sfx$shadow`")

  /** The stored (cell, id, code, scale) rows, sorted — every physical
    * row, committed or not. */
  def storedRows(t: String): Seq[(Int, Long, String, Double)] = {
    import spark.implicits._
    spark.table(t + "_sv")
      .select(col("cell"), col("id"), hex(col("qc")), col("scale"))
      .as[(Int, Long, String, Double)].collect().sorted.toSeq
  }

  /** The probe-visible rows: committed, active epoch, not tombstoned. */
  def liveRows(t: String): DataFrame =
    Similarity.svLiveRows(spark, Similarity.svState(spark, t))

  /** The active quantizer epoch of shard 0. */
  def epoch(t: String): Long =
    Similarity.svState(spark, t).epochs(0)

  /** Sorted (q_id, nb_id, rank) rows of a retrieval result. */
  def ranks(df: DataFrame): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    df.select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
  }

  /** The fraction-law top-3 probe of index `t` over `vec_id`/`embedding`
    * queries. */
  def probe(queries: DataFrame, t: String,
      targetRecall: Double = 0.8): Seq[(Long, Long, Int)] =
    ranks(Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
      "embedding", k = 3, t, targetRecall))

  /** The share of `reference`'s (q_id, nb_id) pairs `approx` returns —
    * the mean per-query recall when every query has k reference rows. */
  def recall(approx: DataFrame, reference: DataFrame): Double =
    Similarity.retrievalAgreement(approx, reference, "q_id", "nb_id")
      .agg((sum("n_both") / sum("n_b")).cast("double"))
      .head().getDouble(0)
}
