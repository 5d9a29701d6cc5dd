package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's `ValueAggregator` descriptor library (hadoop-gpu-0.20.1/
  * src/mapred/org/apache/hadoop/mapred/lib/aggregate/ — LongValueSum:28,
  * DoubleValueSum:29, LongValueMax/Min:28, StringValueMax/Min:28,
  * UniqValueCount:30, ValueHistogram:78) re-expressed as Catalyst aggregate
  * columns. Every one of these maps to a partial/final HashAggregate pair —
  * i.e. the reference's combiner (map-side partial aggregation,
  * mapred/Task.java:1094) is applied automatically, which is exactly what
  * keeps the shuffle small at 100 TB.
  */
object ValueAggregators {

  def longValueSum(v: Column): Column   = sum(v.cast("long"))
  def doubleValueSum(v: Column): Column = sum(v.cast("double"))
  def valueMax(v: Column): Column       = max(v)
  def valueMin(v: Column): Column       = min(v)

  /** Exact distinct count (UniqValueCount.java:30). The reference caps the
    * in-memory set; at scale prefer [[uniqValueCountApprox]]. */
  def uniqValueCount(v: Column): Column = countDistinct(v)

  /** Engine HLL sketch — constant memory per group instead of an
    * unbounded hash set. The fast path when cross-engine
    * reproducibility isn't needed (Spark's HLL++ is not reproducible in
    * DuckDB); accuracy is spec-tested. The ORACLE-GATED sketch tier is
    * [[portableHllEstimate]]. */
  def uniqValueCountApprox(v: Column, rsd: Double = 0.02): Column =
    approx_count_distinct(v, rsd)

  /** Portable HyperLogLog distinct estimate (q07b) — the qa8 count-min
    * discipline applied to HLL: every register derives from the
    * engine-portable 60-bit md5 hash ([[graft.pipeline.Portable]]), so
    * a second engine reproduces the sketch BIT FOR BIT, including its
    * error — the estimate itself is oracle-gated, not merely
    * rows-checked. m registers (power of 2, >= 128): bucket = h mod m,
    * rank = leading-zero count of the remaining 60-p hash bits + 1,
    * register = max rank (Flajolet et al. 2007).
    *
    * Cross-engine determinism: the harmonic sum is kept EXACT by
    * integer scaling — Σ 2^(maxRank − M_j) as a 64-bit integer (absent
    * registers contribute 2^maxRank; max total m·2^53 < 2^63) — so no
    * float accumulation order exists; the only doubles are one
    * division by that integer and the small-range linear-counting
    * branch m·ln(m/V), whose last-ulp ln class is absorbed by rounding
    * the estimate to an integer count. KNOWN GATE RISK (the qa7
    * class, accepted): the rounding absorbs a JVM-vs-libm `ln` ulp
    * EXCEPT when m·ln(m/V) lands within one ulp of an exact x.5
    * half-boundary, where the two engines could round the integer
    * apart. V is integer-valued so the boundary set is finite and
    * data-independent; no (m, V) pair of the gated configurations
    * sits near one, and a regression would be a visible ±1 hash
    * mismatch, not silent drift.
    *
    * Scale: two partial-agg'd shuffles — (key, bucket) max, then a
    * per-key rollup of ≤ m constant-size register rows — the same
    * constant-memory contract as the engine HLL, at the cost of the
    * md5-based hash per value (map-side, codegen'd). Accuracy is the
    * standard ~1.04/sqrt(m) (spec-asserted against exact counts).
    * Returns (key, est). */
  def portableHllEstimate(df: DataFrame, key: Column, v: Column,
      m: Int = 256): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, key, v, m), m)

  /** The register table `(key, b, m_reg)` of [[portableHllEstimate]] —
    * at most m rows per key regardless of corpus size. Split out so the
    * PERSISTED tier ([[writeHllTable]]) stores exactly the state the
    * one-shot estimate derives from: registers are MAX-monoid
    * ([[graft.pipeline.MergeTables.mergedMax]]), so partial register
    * tables over any corpus split merge to the full corpus's registers
    * — the law behind build+append == one-shot. */
  def hllRegisters(df: DataFrame, key: Column, v: Column,
      m: Int = 256): DataFrame = {
    require(m >= 128 && (m & (m - 1)) == 0,
      s"m must be a power of 2 >= 128, got $m")
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    val maxRank = 60 - p + 1
    val h = graft.pipeline.Portable.hash60(v.cast("string"))
    df.select(key.as("key"), pmod(h, lit(m.toLong)).as("b"),
        (lit(maxRank) - length(ltrim(bin(shiftright(h, p)), "0"))).as("r"))
      .groupBy("key", "b").agg(max(col("r")).as("m_reg"))
  }

  /** The estimation tail of [[portableHllEstimate]] over a register
    * table — shared verbatim by the one-shot sketch and the
    * persisted-table probe ([[hllEstimateFromTable]]), so the two
    * cannot round differently. */
  def hllEstimateFromRegisters(regs: DataFrame, m: Int = 256)
      : DataFrame = {
    require(m >= 128 && (m & (m - 1)) == 0,
      s"m must be a power of 2 >= 128, got $m")
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    val maxRank = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val num = alpha * m * m * math.pow(2.0, maxRank)
    regs
      .groupBy("key").agg(count(lit(1)).as("nz"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRank - m_reg)"))
          .as("sp"))
      .select(col("key"),
        (lit(m.toLong) - col("nz")).as("v"),
        (lit(num) / (col("sp") +
          (lit(m.toLong) - col("nz")) * lit(1L << maxRank)).cast("double"))
          .as("raw"))
      .select(col("key"),
        round(when(col("raw") <= lit(2.5 * m) && col("v") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(col("raw"))).cast("long").as("est"))
  }

  /** PERSIST the HLL register table (qf6) — the distinct-count sketch
    * joining the persisted tier under the shared
    * [[graft.pipeline.MergeTables]] protocol, with the OTHER merge
    * monoid: registers combine by element-wise MAX, which is
    * idempotent, so this tier is the mirror image of the additive
    * sketches — appends are naturally replay-safe by algebra (max(a,a)
    * = a; a replayed generation cannot change any probe, spec-gated),
    * but there is NO retraction (max is not invertible — deleting keys
    * from the estimate is a rebuild by contract, the same honesty as
    * the minhash tier's natural-idempotence note). Streamed appends
    * still use the deterministic batch keys purely as storage hygiene
    * (a skipped replay writes no duplicate file), not for correctness.
    * State is ≤ m rows per key at any corpus size. */
  def writeHllTable(df: DataFrame, key: Column, v: Column,
      table: String, m: Int = 256): Unit =
    graft.pipeline.MergeTables.write(hllRegisters(df, key, v, m), "b",
      table)

  /** Append a batch's registers as one more generation — see
    * [[writeHllTable]]. */
  def appendHllTable(df: DataFrame, key: Column, v: Column,
      table: String, m: Int = 256): Unit =
    graft.pipeline.MergeTables.append(hllRegisters(df, key, v, m), table)

  /** The probe-time max-merged register table — bit-equal to
    * [[hllRegisters]] over the union of all written/appended batches. */
  def hllRegistersFromTable(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    graft.pipeline.MergeTables.mergedMax(spark, table,
      Seq("key", "b"), "m_reg")

  /** Distinct-count estimates from a persisted register table — the
    * shared estimation tail over [[hllRegistersFromTable]]; `m` must be
    * the build's `m` (the caller owns it, as with count-min's
    * width/depth). Bit-equal to [[portableHllEstimate]] over the union
    * corpus — qf6's gate. */
  def hllEstimateFromTable(spark: org.apache.spark.sql.SparkSession,
      table: String, m: Int = 256): DataFrame =
    hllEstimateFromRegisters(hllRegistersFromTable(spark, table), m)

  /** Collapse all register generations into one gen-0 file — see
    * [[writeHllTable]] and [[graft.pipeline.MergeTables.compact]].
    * `maxGen > 0` compacts only above that many generations
    * ([[graft.pipeline.MergeTables.compactIfOver]]); returns true iff
    * it compacted. */
  def compactHllTable(spark: org.apache.spark.sql.SparkSession,
      table: String, maxGen: Int = 0): Boolean =
    graft.pipeline.MergeTables.compact(spark, table, "b",
      hllRegistersFromTable(spark, table), maxGen)

  /** TAKEDOWN whole keys from a persisted register table (r15 verdict
    * item 2): MAX-monoid registers have no inverse — a retraction
    * cannot exist by algebra — but whole-KEY removal needs none: the
    * revoked keys' rows are simply excluded from a compaction's
    * rewrite (a FILTERED compaction), so they are physically gone in
    * one pass and every probe thereafter. Per-key state is
    * independent (registers never mix keys), so the surviving keys'
    * estimates are bit-unchanged — the qfe discipline carried to the
    * tier whose delete story was previously "rebuild by contract".
    * Idempotent: re-retiring an absent key excludes nothing. */
  def retireHllGroups(spark: org.apache.spark.sql.SparkSession,
      table: String, groups: Seq[Any]): Unit = {
    require(groups.nonEmpty, "no groups to retire")
    val key = org.apache.spark.sql.functions.col("key")
    // null-SAFE keep predicate: a null group key makes `!isin` NULL,
    // which a plain filter would DROP — silently destroying the null
    // group's registers when an unrelated source is retired. Null keys
    // were not named, so they survive.
    graft.pipeline.MergeTables.compact(spark, table, "b",
      hllRegistersFromTable(spark, table)
        .filter(key.isNull || !key.isin(groups: _*)))
  }

  /** One micro-batch's register generation under its commit key,
    * exposed for the replay spec. On the MAX tier the batch key is
    * PURE storage hygiene: even an unkeyed replayed generation could
    * not change any probe (max is idempotent, spec-proven) — the key
    * just keeps the replay from landing a duplicate file. */
  private[graft] def streamAppendHllBatch(batch: DataFrame,
      batchId: Long, key: Column, v: Column, table: String,
      m: Int = 256): Unit =
    graft.pipeline.MergeTables.appendBatch(batch, batchId, table,
      0L)(hllRegisters(_, key, v, m))

  /** The DuckDB twin of [[portableHllEstimate]] — the full sketch
    * (hash, registers, exact-integer harmonic sum, correction branch)
    * re-derived in SQL over `FROM (keyExpr AS key, valExpr AS s)`.
    * Single-sourced constants so the engines cannot drift. */
  def portableHllSql(table: String, keyExpr: String, valExpr: String,
      keyAlias: String, m: Int = 256): String = {
    require(m >= 128 && (m & (m - 1)) == 0)
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    val maxRank = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val num = alpha * m * m * math.pow(2.0, maxRank)
    s"""WITH vals AS (SELECT $keyExpr AS key, $valExpr AS s FROM $table),
      |hh AS (SELECT key,
      |    ${graft.pipeline.Portable.hash60Sql("s")} AS h FROM vals),
      |rg AS (SELECT key, h % $m AS b,
      |    MAX($maxRank - length(ltrim(bin(h // $m), '0'))) AS m_reg
      |  FROM hh GROUP BY 1, 2),
      |pk AS (SELECT key, count(*) AS nz,
      |    CAST(SUM((1::BIGINT) << ($maxRank - m_reg)) AS BIGINT) AS sp
      |  FROM rg GROUP BY 1),
      |e AS (SELECT key, $m - nz AS v,
      |    CAST('$num' AS DOUBLE) /
      |      CAST(sp + ($m - nz) * (1::BIGINT << $maxRank) AS DOUBLE) AS raw
      |  FROM pk)
      |SELECT key AS $keyAlias,
      |  CAST(round(CASE WHEN raw <= ${2.5 * m} AND v > 0
      |    THEN ${m.toDouble} * ln(${m.toDouble} / v) ELSE raw END)
      |    AS BIGINT) AS est
      |FROM e""".stripMargin
  }

  /** ValueHistogram (ValueHistogram.java:78-127): per key, build the item →
    * frequency map, then report statistics OF THE FREQUENCY DISTRIBUTION:
    * distinct-item count, min/median/max/mean/stddev of the counts.
    *
    * The reference's "median" is `counts[len/2]` after an ascending sort —
    * the element at 0-based index len/2, NOT an interpolated percentile
    * (SURVEY §7.3). We reproduce it with a row_number pick so oracle hashes
    * match exactly.
    *
    * Two-level aggregation: groupBy(key, item).count → groupBy(key).stats.
    * Both levels get map-side partials; the windowed median pick shares the
    * second shuffle's partitioning (hash by key), so the whole report costs
    * two shuffles regardless of data size.
    */
  def histogramReport(df: DataFrame, key: Column, item: Column): DataFrame = {
    val freq = df.groupBy(key.as("key"), item.as("item"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("key")).orderBy(col("cnt"), col("item"))
    val ranked = freq
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("key"))))
    ranked.groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_items"),
        min(col("cnt")).as("min_cnt"),
        max(when(col("rn") === floor(col("n") / lit(2)) + 1, col("cnt")))
          .as("median_cnt"),
        max(col("cnt")).as("max_cnt"),
        round(avg(col("cnt")), 6).as("avg_cnt"),
        round(coalesce(stddev_pop(col("cnt")), lit(0.0)), 6).as("stddev_cnt"))
  }
}
