package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generate an sf1-equivalent test corpus by scaling the sf0.1 tables
  * 10× with foreign keys kept consistent (r17 verdict item 7: one
  * recorded full-roster bench at sf1 — the suite has only ever been
  * benched at sf0.1/0.01, and the targeted growth rows can miss a knee
  * a full sweep would catch). Replica j shifts every key column by
  * j·10⁷ (all sf0.1 keys sit well under it), in lockstep across tables
  * so joins land exactly as in the source: orders.o_custkey moves with
  * customer.c_custkey, lineitem's three keys with their parents.
  * Dimension tables (region, nation) stay fixed — they are the TPC-H
  * constants every scale shares. documents/embeddings replicate under
  * the GrowthBench `gen` recipe (suffixed tokens / re-hashed vectors)
  * so the dedup and ANN families see fresh content, not 10 exact
  * copies that would turn near-dup demos quadratic in replica count.
  * Events shift ids; timestamps stay (the windowed/session rows just
  * carry 10× the density, which is the point).
  *
  * Usage: runMain graft.tools.Sf1Gen [srcDir] [outDir]
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1). Skips generation
  * when outDir/_OK exists. */
object Sf1Gen {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = 10
    val stride = 10000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.SparkEntry.localSession(cpus)
    val ok = new java.io.File(s"$out/_OK")
    if (ok.exists()) { System.err.println(s"[sf1gen] $out ready"); return }

    // load through Tables, not raw reads: events has shipped in a
    // TIMESTAMP(NANOS) flavor a raw read throws on (Spark 4 rejects
    // nanos without the legacy conf), and documents/embeddings carry
    // the defensive id/float casts — the generated corpus must be
    // normalized the same way the suite's loaders normalize the source
    def t(name: String): DataFrame = name match {
      case "documents"  => graft.Tables.documents(spark, src)
      case "embeddings" => graft.Tables.embeddings(spark, src)
      case n            => graft.Tables(spark, src, n) // events → nanos-safe loader
    }
    def write(name: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      System.err.println(s"[sf1gen] wrote $name")
    }
    /** Replicate with the named long key columns shifted per replica. */
    def rep(df: DataFrame, keys: Seq[String]): DataFrame =
      (0 until k).map { j =>
        keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(j * stride)))
      }.reduce(_ unionAll _)

    write("region", t("region"))
    write("nation", t("nation"))
    write("customer", rep(t("customer"), Seq("c_custkey")))
    write("supplier", rep(t("supplier"), Seq("s_suppkey")))
    write("part", rep(t("part"), Seq("p_partkey")))
    write("orders", rep(t("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem", rep(t("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", rep(t("events"), Seq("event_id", "user_id")))
    // fresh content per replica — the GrowthBench gen recipe
    val docs = t("documents")
    write("documents", (0 until k).map(j =>
      if (j == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(j * stride))
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1_" + j))
        .withColumn("n_chars", length(col("text")).cast("long")))
      .reduce(_ unionAll _))
    val vecs = t("embeddings")
    write("embeddings", (0 until k).map(j =>
      if (j == 0) vecs
      else vecs
        .withColumn("vec_id", col("vec_id") + lit(j * stride))
        .withColumn("embedding", expr(
          s"transform(sequence(0, 63), i -> " +
          s"cast(pmod(hash(vec_id, $j, i), 2000) / 1000.0d - 1.0d as float))")))
      .reduce(_ unionAll _))
    ok.getParentFile.mkdirs(); ok.createNewFile()
    System.err.println(s"[sf1gen] done -> $out")
    spark.stop()
  }
}
