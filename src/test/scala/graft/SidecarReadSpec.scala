package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Similarity
import graft.sources.SidecarRead

/** The driver-side sidecar reader (r22 metadata-floor optimization) must
  * decode EXACTLY the rows a Spark collect over the same table returns —
  * across the index lifecycle states that rewrite the sidecars (build,
  * append, retrain, serving-decision persist, sharded layouts) — and
  * fail naming table, file and field when a field is missing, null or
  * mistyped. */
class SidecarReadSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** A row multiset as a sorted sequence: a dropped or duplicated row
    * changes it, where a `Set` would not notice. */
  private def sorted(rows: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
    rows.sortBy(_.toSeq.sortBy(_._1).mkString(","))

  private def sparkRows(t: String): Seq[Map[String, Any]] =
    sorted(spark.table(t).collect().toSeq.map { r =>
      r.schema.fieldNames.zipWithIndex.flatMap { case (f, i) =>
        if (r.isNullAt(i)) None else Some(f -> r.get(i))
      }.toMap
    })

  private def sidecarRows(t: String): Seq[Map[String, Any]] =
    sorted(SidecarRead.rows(spark, t).map(_.values))

  test("sidecar reader == Spark collect on the ADC protocol tables through build/append/retrain") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = corpus.count()
    try {
      Similarity.writeIvfAdcIndexSharded(
        corpus.filter(col("vec_id") * 2 < n), "vec_id", "embedding",
        "screl_idx")
      assert(sidecarRows("screl_idx_sh") == sparkRows("screl_idx_sh"))
      assert(sidecarRows("screl_idx_sv_g") == sparkRows("screl_idx_sv_g"))
      Similarity.appendIvfAdcIndexSharded(
        corpus.filter(col("vec_id") * 2 >= n), "vec_id", "embedding",
        "screl_idx")
      assert(sidecarRows("screl_idx_sv_g") == sparkRows("screl_idx_sv_g"))
      assert(sidecarRows("screl_idx_sv_g").size == 2,
        "build + append should hold two commit rows")
      // epoch resolution (the probe path's read) agrees with the agg job
      def viaJob = spark.table("screl_idx_sv_g").agg(max("epoch")).head()
        .getLong(0)
      def viaReader = SidecarRead.rows(spark, "screl_idx_sv_g")
        .map(_.getLong("epoch")).max
      assert(viaReader == viaJob)
      Similarity.retrainIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "screl_idx")
      assert(sidecarRows("screl_idx_sv_g") == sparkRows("screl_idx_sv_g"))
      assert(viaReader == viaJob && viaReader == 1L)
    } finally AdcKit.drop("screl_idx")
  }

  test("sidecar reader == Spark collect on the sharded layout + serving sidecars") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    try {
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "screl_sh", nShards = 2, dim = 64)
      assert(sidecarRows("screl_sh_sh") == sparkRows("screl_sh_sh"))
      assert(sidecarRows("screl_sh_sv_g") == sparkRows("screl_sh_sv_g"))
      // the probe path's resolved state survives the reader swap: the
      // fan-out probe still answers (exercises readShardMeta + svState)
      val got = Similarity.ivfAdcTopKIndexedSharded(
        corpus.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 3, table = "screl_sh").count()
      assert(got > 0)
      Similarity.writeShardServing(spark, "screl_sh",
        Seq(Similarity.ShardDials(2, 0.9, 1, 0.85),
            Similarity.ShardDials(3, 0.95, 2, 0.9))
          .map(dl => Similarity.ShardServing("probe", dl, depth = 0,
            recall = dl.hierRecall)))
      assert(sidecarRows("screl_sh_serve") == sparkRows("screl_sh_serve"))
      assert(sidecarRows("screl_sh_serve").size == 2)
    } finally AdcKit.drop("screl_sh")
  }

  test("serving-decision reads decode via the sidecar reader (single-table tier)") {
    // the unsharded index (nShards = 1) with a stored serving decision
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val serving = Seq(Similarity.ShardServing("probe",
      Similarity.ShardDials(3, 0.97, 2, 0.95), depth = 0, recall = 0.95))
    try {
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "screl_sv1")
      Similarity.writeShardServing(spark, "screl_sv1", serving)
      assert(sidecarRows("screl_sv1_serve") ==
        sparkRows("screl_sv1_serve"))
      val got = Similarity.readShardServing(spark, "screl_sv1")
      assert(got.contains(serving), got)
      // an epoch flip refuses the stored row (staleness contract
      // preserved through the reader swap)
      Similarity.retrainIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "screl_sv1")
      assert(Similarity.readShardServing(spark, "screl_sv1").isEmpty)
    } finally AdcKit.drop("screl_sv1")
  }

  test("a null rsgen in the _sh sidecar fails loudly, naming the table — never silently generation 0") {
    val corpus = spark.range(200).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(id, 7, i), 2000) / 1000.0d - 1.0d as float))")
      .as("embedding"))
    try {
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "screl_nul")
      // a hand-written routing row: the column exists, its value is null
      spark.sql("DROP TABLE screl_nul_sh")
      spark.sql("SELECT 1 AS nshards, CAST(NULL AS BIGINT) AS rsgen")
        .write.format("parquet").saveAsTable("screl_nul_sh")
      val ex = intercept[IllegalStateException] {
        Similarity.ivfAdcTopKIndexedSharded(
          corpus.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 3, "screl_nul")
      }
      assert(ex.getMessage.contains("screl_nul_sh") &&
        ex.getMessage.contains("rsgen") && ex.getMessage.contains("null"),
        ex.getMessage)
    } finally AdcKit.drop("screl_nul")
  }

  test("SidecarRead.Row accessors name the table, file and field of a missing, null or mistyped field") {
    try {
      spark.sql("SELECT 7L AS n, 'x' AS s, CAST(NULL AS STRING) AS z")
        .write.format("parquet").saveAsTable("screl_row")
      val Seq(r) = SidecarRead.rows(spark, "screl_row")
      assert(r.getLong("n") == 7L && r.getString("s") == "x")
      def failure(read: => Any): String =
        intercept[IllegalStateException](read).getMessage
      for (msg <- Seq(failure(r.getLong("absent")),
          failure(r.getString("z")), failure(r.getString("n")),
          failure(r.getDouble("s"))))
        assert(msg.contains("screl_row") && msg.contains(r.file), msg)
      assert(failure(r.getLong("absent")).contains("no field 'absent'"))
      assert(failure(r.getString("z")).contains("field 'z' is null"))
      assert(failure(r.getString("n")).contains("field 'n'") &&
        failure(r.getString("n")).contains("expected string"))
      assert(failure(r.getDouble("s")).contains("expected double"))
    } finally spark.sql("DROP TABLE IF EXISTS screl_row")
  }

  test("decoded-once reads stay fresh: after append, delete, compaction, re-tune, reshard and same-name rebuild the reader equals a Spark collect, serves no departed file, and memoizes only the latest listing") {
    // the reader memoizes each part file's decoded rows under (path,
    // length, mtime); every lifecycle step below rewrites or adds
    // sidecar files, so a stale memo entry would show as a row the
    // collect does not return, a row of a file no longer listed, or a
    // memo holding more than the current listing
    import graft.pipeline.{MergeTables, TextAnalysis}
    val n = 400L
    val corpus = spark.range(n).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(id, 11, i), 2000) / 1000.0d - 1.0d as float))")
      .as("embedding"))
    val docs = spark.range(500).select(col("id").as("doc_id"), expr(
      "concat_ws(' ', transform(sequence(0, 7), " +
      "i -> concat('w', pmod(hash(id, 13, i), 60))))").as("text"))
    // the ADC data table moves to a new name at a reshard
    def dataT =
      if (!spark.catalog.tableExists("scfr_adc_sh")) "scfr_adc_sv"
      else Similarity.svState(spark, "scfr_adc").dataT
    def tables = Seq("scfr_adc_sh", dataT + "_g", "scfr_adc_serve",
      "scfr_bm_s")
    def serve(np: Int) = Similarity.writeShardServing(spark, "scfr_adc",
      Seq.fill(2)(Similarity.ShardServing("probe",
        Similarity.ShardDials(np, 0.9, 1, 0.9), depth = 0, recall = 0.9)))
    var departed = Set.empty[String]
    def check(step: String): Unit = {
      for (t <- tables) {
        val got = SidecarRead.rows(spark, t)
        spark.catalog.refreshTable(t)
        val listed = MergeTables.freshInputFiles(spark, t).toSet
        assert(sorted(got.map(_.values)) == sparkRows(t), s"$step: $t rows")
        assert(got.forall(r => listed(r.file)),
          s"$step: $t served a file outside its listing")
        assert(got.forall(r => !departed(r.file)),
          s"$step: $t served a departed file")
        assert(SidecarRead.memoizedFiles(spark, t) == listed,
          s"$step: $t memo holds " + SidecarRead.memoizedFiles(spark, t) +
            " for listing " + listed)
      }
      // the catalog-location listing is the file set Spark would scan
      for (t <- tables ++ Seq(dataT + "_c", "scfr_bm")) {
        spark.catalog.refreshTable(t)
        assert(MergeTables.freshInputFiles(spark, t) ==
          spark.table(t).inputFiles.toSeq.sorted,
          s"$step: $t listing differs from Spark's inputFiles")
      }
    }
    def listing(): Set[String] =
      tables.filter(spark.catalog.tableExists)
        .flatMap(MergeTables.freshInputFiles(spark, _)).toSet
    def step(name: String)(mutate: => Unit): Unit = {
      val before = listing()
      mutate
      departed ++= before -- listing()
      check(name)
    }
    try {
      step("build") {
        Similarity.writeIvfAdcIndexSharded(
          corpus.filter(col("vec_id") * 2 < n), "vec_id", "embedding",
          "scfr_adc", nShards = 2, dim = 64)
        serve(2)
        TextAnalysis.writeBm25Index(docs.filter(col("doc_id") < 250),
          "doc_id", "text", "scfr_bm")
      }
      step("append") {
        Similarity.appendIvfAdcIndexSharded(
          corpus.filter(col("vec_id") * 2 >= n), "vec_id", "embedding",
          "scfr_adc")
        TextAnalysis.appendBm25Index(docs.filter(col("doc_id") >= 250),
          "doc_id", "text", "scfr_bm")
      }
      step("delete") {
        Similarity.deleteIvfVecsSharded(spark, "scfr_adc",
          spark.range(0, n, 7).toDF("vec_id"), "vec_id")
        TextAnalysis.deleteBm25Docs(spark, "scfr_bm",
          spark.range(0, 500, 9).toDF("doc_id"), "doc_id")
      }
      step("compaction") {
        Similarity.compactIvfAdcIndexSharded(spark, "scfr_adc")
        TextAnalysis.compactBm25Index(spark, "scfr_bm")
      }
      step("re-tune")(serve(3))
      step("reshard") {
        Similarity.reshardIvfAdcIndex(corpus, "vec_id", "embedding",
          "scfr_adc", newShards = 2)
        serve(3)
      }
      step("same-name rebuild") {
        Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
          "scfr_adc", nShards = 2, dim = 64)
        serve(4)
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", "scfr_bm")
      }
      assert(departed.nonEmpty,
        "vacuous gate: no sidecar file ever left a listing")
      assert(SidecarRead.rows(spark, "scfr_adc_serve")
        .forall(_.getInt("nprobe") == 4), "re-tuned dials not served")
    } finally {
      AdcKit.drop("scfr_adc", "scfr_adc_r1")
      for (t <- Seq("scfr_bm", "scfr_bm_s", "scfr_bm_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
