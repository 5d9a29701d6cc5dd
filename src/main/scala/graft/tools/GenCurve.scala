package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{MergeTables, Sketches, Similarity, TextAnalysis}

/** Probe-cost vs generation-count curve — the measurement behind the
  * auto-compaction threshold (`maxGen` of the tier compactors,
  * [[MergeTables.compactIfOver]], r14 verdict item 4): how much does
  * an uncompacted table's generation count cost a probe (merge fan-in
  * over more files) and an append (the per-batch replay check's footer
  * probes)? Run at sf0.1; results recorded in
  * BASELINE.md, from which RUNBOOK's recommended maxGen is chosen.
  *
  * The sketch tier's generations are FABRICATED in two write jobs (the
  * probe cost depends on files × rows, not on how the files got there;
  * each fabricated generation is a full sketch-sized bucket table
  * under its own gen/batch_key). Generations RANGE-partition into
  * files, which approximates — but does not exactly equal — the
  * one-file-per-append layout of real appends, so the ACTUAL file
  * count is printed per row and recorded beside the generation count
  * in BASELINE.md: files, not nominal generations, are the cost
  * driver, and a real append always lands exactly one file. The BM25
  * tier's generations are REAL appends — its per-generation cost
  * structure (bucketed postings + commit rows) is not worth
  * fabricating.
  */
object GenCurve {
  private def med3(f: => Long): (Double, Long) = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val rs = Seq(once(), once(), once())
    (rs.map(_._1).sorted.apply(1), rs.head._2)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus,
      "spark.sql.warehouse.dir" ->
        (sys.props("java.io.tmpdir") + "/gencurve_wh_" + System.nanoTime()))
    import spark.implicits._
    val t = scala.collection.mutable.LinkedHashMap[String, Double]()

    // optional section filter: "gens", "retire", or "all" (default)
    val sections = if (args.length > 1) args(1) else "all"
    def run(s: String) = sections == "all" || sections == s

    // ---- sketch tier: fabricated G-generation tables ----
    if (run("gens")) {
    val ev = Tables.events(spark, src).filter(col("value").isNotNull)
    val cv = floor(col("value") * 100 + 0.5).cast("long")
    val state0 = Sketches.logBucketCounts(ev, cv)
      .select("b_low", "b_high", "cnt").cache()
    val skRows = state0.count()
    System.err.println(s"[gencurve] sketch state rows=$skRows")
    for (g <- Seq(1, 16, 256, 4096)) {
      val tbl = s"gc_sk_$g"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      MergeTables.write(state0, "b_low", tbl)
      if (g > 1) {
        state0.crossJoin(
            spark.range(1, g).select(col("id").as("gid")))
          .withColumn("gen", col("gid"))
          .withColumn("batch_key",
            lit(Similarity.streamBatchKeyBase + (1L << 28)) + col("gid"))
          .select("b_low", "b_high", "cnt", "gen", "batch_key")
          .repartitionByRange(g - 1, col("gen"))
          .write.mode("append")
          .option("parquet.bloom.filter.enabled#batch_key", "true")
          .bucketBy(1, "b_low").sortBy("b_low")
          .saveAsTable(tbl)
      }
      val files = new java.io.File(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
        .listFiles().count(_.getName.startsWith("part-"))
      val (probeSec, n) = med3 {
        Sketches.quantilesFromSketchTable(spark, tbl, Seq(50, 90, 99))
          .count()
      }
      val (replaySec, _) = med3 {
        if (MergeTables.replayed(spark, tbl,
          Similarity.streamBatchKeyBase + 7L)) 1L else 0L
      }
      t(s"sk_probe_g$g") = probeSec
      t(s"sk_replay_g$g") = replaySec
      System.err.println(f"[gencurve] sketch g=$g%-5d files=$files%-5d " +
        f"probe=$probeSec%6.2f s  replay-check=$replaySec%6.2f s  rows=$n")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }

    // ---- BM25 tier: real per-generation appends ----
    val docs = Tables.documents(spark, src).cache()
    val nDocs = docs.count()
    val qs = Seq((1L, "data model distributed"),
      (2L, "training tokens quality")).toDF("q_id", "qtext")
    for (g <- Seq(1, 16, 256)) {
      val tbl = s"gc_bm_$g"
      for (s <- Seq("", "_s", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $tbl$s")
      // first slice builds the index; g-1 further slices append
      val bounds = (0 to g).map(i => nDocs * i / g)
      TextAnalysis.writeBm25Index(
        docs.filter(col("doc_id") < bounds(1)), "doc_id", "text", tbl)
      val tApp0 = System.nanoTime()
      for (i <- 1 until g)
        TextAnalysis.appendBm25Index(
          docs.filter(col("doc_id") >= bounds(i) &&
            col("doc_id") < bounds(i + 1)),
          "doc_id", "text", tbl)
      if (g > 1)
        System.err.println(f"[gencurve] bm25 g=$g%-5d appends took " +
          f"${(System.nanoTime() - tApp0) / 1e9}%.1f s total")
      val (probeSec, n) = med3 {
        TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext", tbl, k = 10)
          .count()
      }
      t(s"bm_probe_g$g") = probeSec
      System.err.println(
        f"[gencurve] bm25 g=$g%-5d probe=$probeSec%6.2f s rows=$n")
      for (s <- Seq("", "_s", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $tbl$s")
    }
    }

    if (run("retire")) {
    // ---- retention cost: state-sized, corpus-independent ----
    // retireGroupsBefore reads the MERGED STATE and writes one file,
    // so its cost scales with groups × buckets, never with the corpus
    // the state summarizes. Measured: the qfa-shaped hour-keyed table
    // (~720 groups at sf0.1) vs a fabricated 10× -group table.
    for ((mult, tag) <- Seq((1, "1x"), (10, "10x"))) {
      val tbl = s"gc_ret_$tag"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val evh = Tables.events(spark, src)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .crossJoin(spark.range(0, mult).select(col("id").as("rep")))
        .select(
          (expr("unix_timestamp(ts) div 3600") +
            col("rep") * 1000000L).as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
      graft.pipeline.Sketches.writeSketchTable(
        evh, col("v"), tbl, group = Some(col("g")))
      val groups = spark.table(tbl).select("g").distinct().count()
      val cutoff = spark.table(tbl).agg(min("g")).head().getLong(0) +
        240L
      val t0 = System.nanoTime()
      graft.pipeline.Sketches.retireGroupsBefore(spark, tbl, cutoff)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[gencurve] retire_$tag%-4s groups=$groups%-6d $sec%6.2f s")
      t(s"retire_$tag") = sec
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    }

    if (run("online")) {
    // ---- in-loop auto-compaction: amortized per-batch cost ----
    // The unattended loops (qfh/qfk/qfl, r16) run a maxGen compaction
    // after every micro-batch. Per batch that costs (a) the
    // generation-count probe always and (b) one state-sized rewrite
    // every ~maxGen batches. Measured here: 40 micro-batches streamed into the
    // qfa-shaped hour-keyed grouped sketch under no policy vs
    // maxGen 64 (the recommended one — never trips at this depth, so it
    // prices the pure threshold probe) vs 8 and 2 (aggressive, pricing
    // the amortized rewrites).
    val evb = Tables.events(spark, src)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(expr("unix_timestamp(ts) div 3600").as("g"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .limit(40000).cache()
    evb.count()
    val batches = (0 until 40).map(i =>
      evb.filter(col("v") % 40 === i).cache())
    batches.foreach(_.count())
    for (mg <- Seq(0, 64, 8, 2)) {
      val tbl = s"gc_ol_$mg"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_hwm")
      graft.pipeline.Sketches.writeSketchTable(
        batches(0), col("v"), tbl, group = Some(col("g")))
      val t0 = System.nanoTime()
      for ((b, i) <- batches.zipWithIndex.drop(1)) {
        graft.pipeline.Sketches.streamAppendSketchBatch(
          b, i.toLong, col("v"), tbl, lineage = 1L, group = Some(col("g")))
        if (mg > 0)
          graft.pipeline.Sketches.compactSketchTable(spark, tbl, mg)
      }
      val perBatch = (System.nanoTime() - t0) / 1e9 / 39
      val gens = MergeTables.generationCount(spark, tbl)
      val tag = if (mg == 0) "none" else mg.toString
      System.err.println(
        f"[gencurve] online maxGen=$tag%-5s per-batch=$perBatch%6.3f s " +
          s"final_gens=$gens")
      t(s"online_$tag") = perBatch
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_hwm")
    }
    }

    val json = t.map { case (k, v) =>
      "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"gencurve","points":$json}""")
    spark.stop()
  }
}
