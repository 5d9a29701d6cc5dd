package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * The dedup/similarity operators need hash values that a second engine
  * (the DuckDB oracle) can reproduce bit-for-bit. Spark's `hash()`
  * (Murmur3) and DuckDB's `hash()` disagree, but both expose md5 over
  * strings, so we derive a 60-bit integer from the first 15 hex chars:
  *
  *   Spark : CAST(conv(substr(md5(s),1,15), 16, 10) AS BIGINT)
  *   DuckDB: CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)
  *
  * md5 here is a content fingerprint, not cryptography. At 100 TB the
  * md5 evaluation is per-shingle map-side work inside whole-stage codegen
  * — it scales linearly and shuffles only the 8-byte result.
  */
object Portable {

  /** 60-bit non-negative hash of a string column (see object doc). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The same value via the native [[graft.functions.Hash60Expr]] — no
    * intermediate hex/substring/base-10 strings (3 allocations saved per
    * value, which dominates shingle-scale hashing). Bit-equality with
    * [[hash60]] is property-tested. */
  def hash60Fast(c: Column): Column =
    GraftColumnBridge.column(
      graft.functions.Hash60Expr(GraftColumnBridge.expression(c)))

  /** The same value DuckDB-side, for oracle builders. */
  def hash60Sql(sqlExpr: String): String =
    s"CAST(concat('0x', substr(md5($sqlExpr),1,15)) AS BIGINT)"

  /** Deterministic double in [-1, 1) from a seed string — used to build
    * reproducible random hyperplanes without any RNG state. */
  def unitFromSeed(seed: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8"))
    val h = java.lang.Long.parseLong(
      md.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    (h % 2000001L) / 1000000.0 - 1.0
  }
}
