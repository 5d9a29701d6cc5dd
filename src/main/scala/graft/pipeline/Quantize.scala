package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization — the memory/shuffle-reduction tier of a
  * 100 TB vector pipeline: symmetric per-vector int8 (the standard
  * inference-serving scheme) stores 1 byte per element plus one scale,
  * 4x less than float32, which is exactly the factor the ANN candidate
  * joins shuffle and cache. The reference has no quantization (its
  * k-means apps compute in full float — e.g.
  * `apps/pipes/kmeans/cpu-kmeans2D/cpu-kmeans2D.cc:179`); this is
  * north-star training-pipeline surface beyond the §2 contract. The intended composition is
  * quantize-once-store-forever, run candidate generation (sign buckets /
  * IVF cells / brute scans) over the int8 corpus, and re-rank the few
  * survivors against full precision ([[Similarity]] operators).
  *
  * Everything here is a pure map-side projection of the row — no
  * shuffle, no state — and every output value is reproducible by a
  * second engine exactly: scale is a max (order-independent), the
  * quantized codes use round-half-away-from-zero on double arithmetic
  * (Spark's decimal-string HALF_UP and DuckDB's round() agree on every
  * double: the shortest decimal repr identifies the binary value
  * uniquely, and 0.5 boundaries are exactly representable), and the
  * reconstruction error audit is one division and one subtraction per
  * element in the same order on both sides.
  */
object Quantize {

  /** Per-vector symmetric int8 codes: scale = max |x_i| (double), code_i
    * = clamp(round(x_i / scale * 127), -127, 127). A zero vector (scale
    * 0) quantizes to all-zero codes rather than NaN-poisoning the row —
    * the guard matters under Spark 4's ANSI mode, where casting a NaN
    * round() result would throw. A NON-FINITE scale (a NaN or ±Inf
    * element poisons the max: Spark orders NaN above every double, so
    * `NaN > 0.0` would take the quantize branch and `round(NaN).cast`
    * would throw mid-scan) routes to the same all-zero-code branch —
    * the emitted non-finite `scale` is the error flag, and one bad
    * embedding can never fail the whole 100 TB pass. `scale < +Inf` is
    * false for both NaN (NaN sorts above +Inf) and +Inf itself, so one
    * predicate covers both. Output: (id, scale, q array<int>). */
  private def codes(v: Column, scale: Column): Column =
    when(scale > 0.0 && scale < Double.PositiveInfinity,
      transform(v, x => greatest(lit(-127.0), least(lit(127.0),
        round(x / scale * 127.0))).cast("int")))
      .otherwise(transform(v, _ => lit(0)))

  /** The scale column (max |x_i|) for a float/double-array column —
    * native [[graft.functions.MaxAbsExpr]] (value-identical to the
    * declarative `aggregate(greatest(abs))` fold — max is selection, so
    * no accumulation-order exposure — but codegen'd and safe to
    * reference from other lambdas without inlining an interpreted fold
    * per element; spec-asserted equal on real + hostile rows). */
  def scaleOf(v: Column): Column = graft.functions.VectorOps.maxAbs(v)

  /** The int8 code column for (vector, scale) — see [[scaleOf]]. */
  def codesOf(v: Column, scale: Column): Column = codes(v, scale)

  def int8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), _.cast("double"))
    val scale = scaleOf(col(vecCol))
    vecs.select(col(idCol).as("id"), scale.as("scale"),
      codes(v, scale).as("q"))
  }

  /** [[int8]] with the codes packed into a 1-byte-per-element `binary`
    * blob via the native [[graft.functions.PackI8Expr]]: (id, scale, qc).
    * This is the storage/shuffle form the IVF-ADC candidate join moves —
    * 64 bytes per dim-64 vector instead of a ~256-byte float array. Still
    * one map-side projection, zero exchanges. */
  def packedInt8(vecs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val scale = scaleOf(col(vecCol))
    vecs.select(col(idCol).as("id"), scale.as("scale"),
      graft.functions.VectorOps.packQuant(col(vecCol), scale).as("qc"))
  }

  /** Reconstructed double vector from (scale, codes): r_i = q_i / 127 *
    * scale — the exact expression the error audit and any re-rank
    * composition must share. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, c => c.cast("double") / 127.0 * scale)

  /** Quantization audit per vector: the int8 codes plus their worst-case
    * reconstruction error against the original (max over elements of
    * |x_i - q_i/127*scale|). The symmetric-scheme bound is scale/254
    * (half a quantization step) — spec-gated, and the q84 oracle
    * recomputes every value exactly in DuckDB. `q_sum` rides along as a
    * compact code checksum. Output: (id, scale, q_sum, max_err). */
  def int8Audit(vecs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    // stacked projections, not a join back to the source — Catalyst
    // collapses them into ONE map-side project, so the audit of a
    // 100 TB corpus is a single scan with zero exchanges
    vecs
      .select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("x"))
      .withColumn("scale", scaleOf(col("x")))
      .withColumn("q", codes(col("x"), col("scale")))
      .select(
        col("id"),
        col("scale"),
        aggregate(col("q"), lit(0L), (a, c) => a + c.cast("long"))
          .as("q_sum"),
        aggregate(
          zip_with(col("x"), dequantize(col("q"), col("scale")),
            (x, r) => abs(x - r)),
          lit(0.0), (a, e) => greatest(a, e)).as("max_err"))
  }

  /** Per-dimension embedding statistics (q98) — the whitening /
    * encoder-health audit: mean, sample std, min, max of every vector
    * coordinate across the corpus. A dead dimension (std ≈ 0), a biased
    * one (|mean| ≫ others), or a blown-up range flags an encoder or
    * ingestion fault before any training run pays for it; the
    * mean/std pairs are also exactly what a whitening transform
    * consumes.
    *
    * Scale: posexplode is a map-side generate (dim × rows, no state),
    * and every aggregate partial-combines map-side, so the one shuffle
    * carries `dim` groups of constant-size buffers — output is `dim`
    * rows regardless of corpus size. Cross-engine: mean/std accumulate
    * in engine-specific order; drift is ~1e-13 absolute on unit-scale
    * coordinates, far inside the driver's 1e-6 float tolerance, and
    * min/max/count are exact. */
  def dimStats(vecs: DataFrame, vecCol: String): DataFrame =
    vecs.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        avg(col("x")).as("mean"),
        stddev_samp(col("x").cast("double")).as("std"),
        min(col("x")).cast("double").as("min_x"),
        max(col("x")).cast("double").as("max_x"))

  /** Whitening apply (qa3) — the transform [[dimStats]]'s Scaladoc
    * promises a consumer for: per-coordinate standardization
    * `(x_i − mean_i) / std_i` over the corpus statistics, the
    * diagonal-covariance whitening a retrieval or clustering stage runs
    * before distances mean anything. Dead dimensions (std = 0, one
    * distinct value corpus-wide) map to 0.0 — the information-free
    * coordinate drops out of every downstream distance instead of
    * dividing by zero (spec-pinned). Returns `(id, w)` with `w` the
    * whitened double vector.
    *
    * Scale: the stats side is [[dimStats]]'s dim-keyed partial-agg'd
    * shuffle collected to `dim` rows — BOUNDED BY THE VECTOR WIDTH, not
    * the corpus — and re-enters the plan as two literal arrays inside a
    * single codegen'd map-side projection: the apply stage is scan →
    * project with ZERO exchanges (plan-asserted), so whitening a 100 TB
    * corpus costs one stats pass plus one embarrassingly-parallel
    * rewrite pass. */
  def whiten(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = dimStats(vecs, vecCol)
      .select(col("dim"), col("mean"),
        coalesce(col("std"), lit(0.0)).as("std"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "whiten: empty corpus has no statistics")
    val means = array(stats.map(s => lit(s._2)).toIndexedSeq: _*)
    val stds = array(stats.map(s => lit(s._3)).toIndexedSeq: _*)
    vecs.select(col(idCol).as("id"),
      transform(col(vecCol), (x, i) =>
        when(element_at(stds, i + 1) > 0,
          (x.cast("double") - element_at(means, i + 1)) /
            element_at(stds, i + 1))
          .otherwise(lit(0.0))).as("w"))
  }
}
