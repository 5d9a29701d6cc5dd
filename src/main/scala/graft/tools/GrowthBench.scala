package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Curation, Dedup, Similarity}

/** Scaling measurement: run the dedup/ANN tiers at 1x / 2x / 10x the
  * sf0.1 corpus and report runtime growth exponents — the executable
  * check behind the "this tier is the 100 TB path" claims (the plan
  * asserts structure; this measures it).
  *
  * Scaled corpora derive from the sf0.1 testdata deterministically:
  *  - documents: copy j maps every token w -> w_j (a token bijection —
  *    Jaccard-invariant, so each copy reproduces the planted near-dup
  *    structure exactly, while cross-copy shingle sets are disjoint).
  *    This scales like sharded real data: the near-dup RATE stays
  *    constant, so candidate volume grows linearly.
  *  - embeddings: copy j > 0 draws fresh hash-derived pseudo-random
  *    vectors (the source corpus is random with no planted near-dups —
  *    copies match its statistics; perturbed copies would instead plant
  *    cross-copy near-dups the 1x corpus doesn't have).
  *
  * Expected shapes, measured here: minhash-LSH and ngram-Jaccard grow
  * ~linearly on shard-like corpora; the EXACT embedding all-pairs
  * baseline grows quadratically (documented as oracle-only); sign-LSH at
  * scale parameters stays subquadratic, and calibrating planes up with
  * log2(growth) holds per-bucket occupancy constant; IVF with fixed
  * nlist degrades toward quadratic (bucket occupancy grows), while
  * scaling nlist with the corpus restores near-linear cost — the
  * documented "parameters track corpus size" recipe.
  */
object GrowthBench {

  private def timeU(label: String)(f: => String): Double = {
    val t0 = System.nanoTime()
    val suffix = f
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[growth] $label%-34s $s%8.2f s$suffix")
    s
  }

  private def time(label: String, f: => DataFrame): Double =
    timeU(label) { s"  rows=${f.count()}" }

  /** Bucket-occupancy histogram of the sign-LSH projection: per-bucket
    * candidate pairs are C(occ, 2) — the quantity the planes parameter
    * controls. Logged so "subquadratic" is visible in the candidate
    * counts, not only in wall time. */
  private def lshHistogram(spark: SparkSession, dir: String, label: String,
      planes: Int, tables: Int): Unit = {
    val vecs = Tables.embeddings(spark, dir)
    val hps = Array.tabulate(tables)(t =>
      Similarity.hyperplanes(planes, 64, seed = s"table${t}_plane"))
    val buckets = vecs.select(col("vec_id"), explode(array(
      (0 until tables).map(t => struct(lit(t).as("t"),
        Similarity.bucketOf(col("embedding"), hps(t)).as("b"))): _*)).as("tb"))
      .groupBy("tb").agg(count(lit(1)).as("occ"))
    val row = buckets.agg(
      count(lit(1)).as("n_buckets"), max("occ").as("max_occ"),
      avg("occ").as("avg_occ"),
      sum(col("occ") * (col("occ") - 1) / 2).as("cand_pairs")).collect()(0)
    System.err.println(s"[growth] $label planes=$planes tables=$tables " +
      s"buckets=${row.getLong(0)} max_occ=${row.getLong(1)} " +
      f"avg_occ=${row.getDouble(2)}%.1f cand_pairs=${row.getDouble(3)}%.0f")
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = if (args.length > 1) args(1) else "/tmp/graft_growth"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus)

    /** Materialize the k-times corpus once; reruns reuse it. */
    def gen(k: Int): String = {
      val out = s"$base/x$k"
      val ok = new java.io.File(s"$out/_OK")
      if (!ok.exists()) {
        val docs = Tables.documents(spark, src)
        (0 until k).map(j =>
          if (j == 0) docs
          else docs
            .withColumn("doc_id", col("doc_id") + lit(j * 1000000L))
            .withColumn("text",
              regexp_replace(col("text"), "(\\S+)", "$1_" + j)))
          .reduce(_ unionAll _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        val vecs = Tables.embeddings(spark, src)
        (0 until k).map(j =>
          if (j == 0) vecs
          else vecs
            .withColumn("vec_id", col("vec_id") + lit(j * 1000000L))
            .withColumn("embedding", expr(
              s"transform(sequence(0, 63), i -> " +
              s"cast(pmod(hash(vec_id, $j, i), 2000) / 1000.0d - 1.0d as float))")))
          .reduce(_ unionAll _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
        ok.getParentFile.mkdirs(); ok.createNewFile()
      }
      out
    }

    // the 1x point is ALSO generator-laid-out (k=1): the source tables
    // are single parquet files (1 scan partition), the scaled corpora 32
    // — comparing across layouts inverts small-scale ratios (the 2x
    // corpus scans with 32x the parallelism). Same layout at every
    // scale isolates the algorithmic growth.
    val x1 = gen(1)
    val x2 = gen(2)
    val x10 = gen(10)
    // warm the JVM/codegen/footers so growth ratios aren't billed setup:
    // table scans, then every query SHAPE once at the cheap scale — the
    // first execution of each plan pays Catalyst + whole-stage codegen
    // compilation, which at sub-5s 1x timings would otherwise swamp the
    // growth signal (and even produce nonsense negative exponents)
    Seq(x1, x2, x10).foreach { d =>
      Tables.documents(spark, d).count(); Tables.embeddings(spark, d).count()
    }
    locally {
      val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
      Dedup.minhashLshPairs(Tables.documents(spark, x1), "doc_id", "text",
        n = 3, threshold = 0.8, numHashes = h, bands = b).count()
      Dedup.ngramJaccardPairs(Tables.documents(spark, x1), "doc_id", "text",
        n = 3, threshold = 0.8).count()
      val (p, tb) = Similarity.lshParams(0.5, 0.97, maxTables = 16)
      Similarity.nearDupPairs(Tables.embeddings(spark, x1), "vec_id",
        "embedding", 0.5).count()
      Similarity.lshNearDupPairs(Tables.embeddings(spark, x1), "vec_id",
        "embedding", 0.5, planes = p, tables = tb, dim = 64).count()
      Dedup.clusters(Similarity.lshNearDupPairs(Tables.embeddings(spark, x1),
        "vec_id", "embedding", 0.5, planes = p, tables = tb, dim = 64)).count()
      Similarity.lshNearDupPairs(Tables.embeddings(spark, x1), "vec_id",
        "embedding", 0.9, planes = 12, tables = 8, dim = 64).count()
      Similarity.ivfTopK(Tables.embeddings(spark, x1), "vec_id", "embedding",
        k = 3, nlist = 64, nprobe = 8, dim = 64).count()
      // the SCALED variants compile different codegen'd plans (different
      // hyperplane/centroid literals) — warm them too, or their one-time
      // compile cost lands exactly on the scaled-vs-fixed comparison
      Similarity.lshNearDupPairs(Tables.embeddings(spark, x1), "vec_id",
        "embedding", 0.9, planes = 15, tables = 8, dim = 64).count()
      Similarity.ivfTopK(Tables.embeddings(spark, x1), "vec_id", "embedding",
        k = 3, nlist = 640, nprobe = 8, dim = 64).count()
      Similarity.ivfAdcTopK(Tables.embeddings(spark, x1), "vec_id",
        "embedding", k = 3, nlist = 64, nprobe = 8, dim = 64).count()
      Similarity.ivfAdcTopK(Tables.embeddings(spark, x1), "vec_id",
        "embedding", k = 3, nlist = 640, nprobe = 8, dim = 64).count()
      Similarity.semDedup(Tables.embeddings(spark, x1), "vec_id",
        "embedding", tau = 0.45).count()
      Similarity.outlierAudit(Tables.embeddings(spark, x1), "vec_id",
        "embedding").count()
      Dedup.groupOverlap(Tables.documents(spark, x1), "source", "text",
        n = 4).count()
    }

    val t = scala.collection.mutable.LinkedHashMap[String, Double]()

    // documents tiers (n = 5k / 10k / 50k)
    for ((tag, d) <- Seq("1x" -> x1, "2x" -> x2, "10x" -> x10)) {
      val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
      t(s"q31_minhash_$tag") = time(s"q31_minhash_$tag",
        Dedup.minhashLshPairs(Tables.documents(spark, d), "doc_id", "text",
          n = 3, threshold = 0.8, numHashes = h, bands = b))
      t(s"q33_ngram_exact_$tag") = time(s"q33_ngram_exact_$tag",
        Dedup.ngramJaccardPairs(Tables.documents(spark, d), "doc_id", "text",
          n = 3, threshold = 0.8))
    }

    // the exact all-pairs baseline at 10x (n = 20k, 200M pairs): the
    // quadratic blow-up, measured — sub-second 1x/2x points sit at the
    // job-overhead floor, so the exponent is taken 2x -> 10x
    t("q34_exact_10x") = time("q34_exact_10x",
      Similarity.nearDupPairs(Tables.embeddings(spark, x10), "vec_id",
        "embedding", 0.5))

    // embedding tiers, wide-angle regime (tau = 0.5; n = 2k / 4k):
    // candidates are a constant large fraction of ALL pairs at this
    // threshold, so quadratic growth is EXPECTED for both the exact
    // baseline and the LSH demo — measured to document it, not excuse it
    val (p05, t05) = Similarity.lshParams(0.5, 0.97, maxTables = 16)
    for ((tag, d) <- Seq("1x" -> x1, "2x" -> x2)) {
      t(s"q34_exact_$tag") = time(s"q34_exact_$tag",
        Similarity.nearDupPairs(Tables.embeddings(spark, d), "vec_id",
          "embedding", 0.5))
      t(s"q34b_lsh_tau05_$tag") = time(s"q34b_lsh_tau05_$tag",
        Similarity.lshNearDupPairs(Tables.embeddings(spark, d), "vec_id",
          "embedding", 0.5, planes = p05, tables = t05, dim = 64))
      t(s"q34c_clusters_tau05_$tag") = time(s"q34c_clusters_tau05_$tag",
        Dedup.clusters(Similarity.lshNearDupPairs(Tables.embeddings(spark, d),
          "vec_id", "embedding", 0.5, planes = p05, tables = t05, dim = 64)))
    }

    // embedding tier, scale regime (tau = 0.9, id-only shuffle shape;
    // n = 2k / 20k): fixed planes vs planes scaled by +log2(growth)
    // (occupancy-constant calibration)
    t("lsh_tau09_fixed_1x") = time("lsh_tau09_fixed_1x",
      Similarity.lshNearDupPairs(Tables.embeddings(spark, x1), "vec_id",
        "embedding", 0.9, planes = 12, tables = 8, dim = 64))
    t("lsh_tau09_fixed_10x") = time("lsh_tau09_fixed_10x",
      Similarity.lshNearDupPairs(Tables.embeddings(spark, x10), "vec_id",
        "embedding", 0.9, planes = 12, tables = 8, dim = 64))
    t("lsh_tau09_scaled_10x") = time("lsh_tau09_scaled_10x",
      Similarity.lshNearDupPairs(Tables.embeddings(spark, x10), "vec_id",
        "embedding", 0.9, planes = 15, tables = 8, dim = 64))
    lshHistogram(spark, x1, "hist_tau09_1x", planes = 12, tables = 8)
    lshHistogram(spark, x10, "hist_tau09_10x_fixed", planes = 12, tables = 8)
    lshHistogram(spark, x10, "hist_tau09_10x_scaled", planes = 15, tables = 8)

    // IVF ANN (n = 2k / 20k): fixed nlist vs nlist scaled with the corpus
    t("q35c_ivf_fixed_1x") = time("q35c_ivf_fixed_1x",
      Similarity.ivfTopK(Tables.embeddings(spark, x1), "vec_id", "embedding",
        k = 3, nlist = 64, nprobe = 8, dim = 64))
    t("q35c_ivf_fixed_10x") = time("q35c_ivf_fixed_10x",
      Similarity.ivfTopK(Tables.embeddings(spark, x10), "vec_id", "embedding",
        k = 3, nlist = 64, nprobe = 8, dim = 64))
    t("q35c_ivf_scaled_10x") = time("q35c_ivf_scaled_10x",
      Similarity.ivfTopK(Tables.embeddings(spark, x10), "vec_id", "embedding",
        k = 3, nlist = 640, nprobe = 8, dim = 64))

    // IVF-ADC (r8; n = 2k / 20k): the same cell geometry as q35c with
    // int8-code scoring — the exponents should track q35c's (the join
    // shape is identical), with the shuffle moving 64-byte blobs
    t("q89_adc_fixed_1x") = time("q89_adc_fixed_1x",
      Similarity.ivfAdcTopK(Tables.embeddings(spark, x1), "vec_id",
        "embedding", k = 3, nlist = 64, nprobe = 8, dim = 64))
    t("q89_adc_fixed_10x") = time("q89_adc_fixed_10x",
      Similarity.ivfAdcTopK(Tables.embeddings(spark, x10), "vec_id",
        "embedding", k = 3, nlist = 64, nprobe = 8, dim = 64))
    t("q89_adc_scaled_10x") = time("q89_adc_scaled_10x",
      Similarity.ivfAdcTopK(Tables.embeddings(spark, x10), "vec_id",
        "embedding", k = 3, nlist = 640, nprobe = 8, dim = 64))

    // SemDeDup (r8; n = 2k / 20k): nlist derives from count() inside the
    // operator, so occupancy — and with it per-vector pair work — is
    // constant by construction: expected ~linear
    t("q88_semdedup_1x") = time("q88_semdedup_1x",
      Similarity.semDedup(Tables.embeddings(spark, x1), "vec_id",
        "embedding", tau = 0.45))
    t("q88_semdedup_10x") = time("q88_semdedup_10x",
      Similarity.semDedup(Tables.embeddings(spark, x10), "vec_id",
        "embedding", tau = 0.45))

    // Outlier audit (r8; n = 2k / 20k): same derived cell geometry as
    // q88, but the post-assignment work is per-ROW (distance + window
    // rank over ~constant-occupancy cells), not per-pair: expected
    // ~linear with a lower constant than semDedup
    t("q92_outlier_1x") = time("q92_outlier_1x",
      Similarity.outlierAudit(Tables.embeddings(spark, x1), "vec_id",
        "embedding"))
    t("q92_outlier_10x") = time("q92_outlier_10x",
      Similarity.outlierAudit(Tables.embeddings(spark, x10), "vec_id",
        "embedding"))

    // Recall audit (r11; n = 2k / 20k): the PRODUCTION audit shape — a
    // FIXED query panel (the 1x sample) against the growing corpus, the
    // quantizer reused from the serving tier (untimed, like q86's index
    // write). Brute-force leg = |panel| x corpus map-side dots, IVF leg
    // = panel-sized probes against derived cells: expected ~linear.
    // (The registry qa4 instead samples queries PROPORTIONALLY — the
    // oracle-able fraction contract — which is quadratic by design;
    // production fixes the panel, measured here.)
    locally {
      val panel = Tables.embeddings(spark, x1)
        .filter(col("vec_id") % 100 === 0)
      for ((tag, d) <- Seq("1x" -> x1, "10x" -> x10)) {
        val vecsD = Tables.embeddings(spark, d)
        val (nl, np) = Similarity.ivfParams(vecsD.count())
        val cents = Similarity.trainCoarseQuantizer(
          Similarity.trainingSample(vecsD, "vec_id", "embedding",
            Similarity.trainingCap(nl)), "embedding", nl, 64)
        if (tag == "1x") // warm the audit's plan shape at the cheap scale
          Similarity.recallAudit(vecsD, panel, "vec_id", "embedding",
            k = 3, nlist = nl, nprobe = np, dim = 64, cents = cents).count()
        t(s"qa4_audit_$tag") = time(s"qa4_audit_$tag",
          Similarity.recallAudit(vecsD, panel, "vec_id", "embedding",
            k = 3, nlist = nl, nprobe = np, dim = 64, cents = cents))
      }
    }

    // curation tier (documents n = 5k / 10k / 50k): repetition metrics
    // are pure map-side, the cleaning pipeline shuffles only ids/flags,
    // contamination is a broadcast gram probe — all expected ~linear.
    // (The token bijection keeps cross-copy grams disjoint, so the
    // contamination hit RATE stays constant as the corpus scales.)
    def evalSplit(d: String) = {
      val docs = Tables.documents(spark, d)
      (docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    }
    locally { // warm the curation plan shapes
      val (c, e) = evalSplit(x1)
      Curation.repetitionMetrics(Tables.documents(spark, x1),
        "doc_id", "text").count()
      Curation.contamination(c, e, "doc_id", "text", n = 4).count()
      Curation.cleanCorpus(c, e, "doc_id", "text", "source").count()
      val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
      Dedup.incrementalMinhashPairs(c, e, "doc_id", "text", n = 3,
        threshold = 0.8, numHashes = h, bands = b).count()
      graft.pipeline.TextAnalysis.fluencyScore(
        Tables.documents(spark, x1), "doc_id", "text").count()
      Dedup.substringDupCoverage(Tables.documents(spark, x1),
        "doc_id", "text", l = 8).count()
      graft.pipeline.TextAnalysis.vocabEncode(
        Tables.documents(spark, x1), "doc_id", "text").count()
      Curation.epochShuffle(Tables.documents(spark, x1), "doc_id",
        nShards = 8, seed = "g").count()
      val (c1, e1) = evalSplit(x1)
      Curation.fuzzyDecontaminate(c1, e1, "doc_id", "text", "source",
        n = 3, threshold = 0.8, numHashes = h, bands = b).count()
    }
    for ((tag, d) <- Seq("1x" -> x1, "2x" -> x2, "10x" -> x10)) {
      val (c, e) = evalSplit(d)
      t(s"q65_repetition_$tag") = time(s"q65_repetition_$tag",
        Curation.repetitionMetrics(Tables.documents(spark, d),
          "doc_id", "text"))
      t(s"q66_contamination_$tag") = time(s"q66_contamination_$tag",
        Curation.contamination(c, e, "doc_id", "text", n = 4))
      t(s"q70_clean_$tag") = time(s"q70_clean_$tag",
        Curation.cleanCorpus(c, e, "doc_id", "text", "source"))
      t(s"q75_fluency_$tag") = time(s"q75_fluency_$tag",
        graft.pipeline.TextAnalysis.fluencyScore(
          Tables.documents(spark, d), "doc_id", "text"))
      t(s"q78_substring_$tag") = time(s"q78_substring_$tag",
        Dedup.substringDupCoverage(Tables.documents(spark, d),
          "doc_id", "text", l = 8))
      // two-level vocabulary rank (r7): the corpus-wide token count agg
      // plus per-occurrence encode join should dominate ~linearly; the
      // bucketed rank never funnels the vocabulary into one partition
      t(s"q81_encode_$tag") = time(s"q81_encode_$tag",
        graft.pipeline.TextAnalysis.vocabEncode(
          Tables.documents(spark, d), "doc_id", "text"))
      // streaming cleaning pipeline (r7): cost = fixed streaming-query
      // lifecycle + the same body-free-shuffle plan as batch q70, so the
      // growth should be ~flat at these sizes like q70's
      t(s"q70s_$tag") = time(s"q70s_$tag", {
        val sch = Tables.documents(spark, d).schema
        val stream = spark.readStream.schema(sch)
          .parquet(s"$d/documents.parquet")
          .filter(pmod(col("doc_id"), lit(97)) =!= 0)
        graft.streaming.EventStreams.runToMemory(
          Curation.cleanCorpusStream(stream, c, e,
            "doc_id", "text", "source"),
          s"g70s_$tag",
          org.apache.spark.sql.streaming.OutputMode.Complete())
      })
      // incremental dedup: the BATCH stays the 1x corpus's 52-doc
      // (doc_id%97==0) eval slice while the screened corpus grows — the
      // production shape (fixed daily increment, growing archive)
      val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
      val batch = evalSplit(x1)._2
      t(s"q73_incremental_$tag") = time(s"q73_incremental_$tag",
        Dedup.incrementalMinhashPairs(c, batch, "doc_id", "text", n = 3,
          threshold = 0.8, numHashes = h, bands = b))
      // cross-source overlap (r8): one gram-hash agg + a G-bounded
      // intersection join — expected ~linear in corpus size
      t(s"q90_overlap_$tag") = time(s"q90_overlap_$tag",
        Dedup.groupOverlap(Tables.documents(spark, d), "source", "text",
          n = 4))
      // r8: the same screen against the PERSISTED archive index — the
      // index write (q73-shaped, once per archive append) is untimed;
      // what production pays per batch is the PROBE, whose archive-side
      // work is a bucketed 3-column scan + candidate-restricted
      // verification, so its growth should sit well under q73's
      val itable = s"g86_idx_$tag"
      Dedup.writeMinhashIndex(c, "doc_id", "text", itable, n = 3,
        numHashes = h, bands = b)
      t(s"q86_probe_$tag") = time(s"q86_probe_$tag",
        Dedup.incrementalMinhashPairsIndexed(c, batch, "doc_id", "text",
          itable, n = 3, threshold = 0.8, numHashes = h, bands = b))
      // epoch shuffle (r11): one projection + one 16-byte-row shuffle +
      // per-shard sort — expected ~linear with a tiny constant
      t(s"qa5_epoch_$tag") = time(s"qa5_epoch_$tag",
        Curation.epochShuffle(Tables.documents(spark, d), "doc_id",
          nShards = 8, seed = "g"))
      // fuzzy decontam (r11): the eval side stays the 1x slice while the
      // screened corpus grows — corpus cost is map-side signatures plus
      // eval-bounded candidates, so growth should track q73's shape
      t(s"qa7_fuzzy_$tag") = time(s"qa7_fuzzy_$tag",
        Curation.fuzzyDecontaminate(c, evalSplit(x1)._2, "doc_id", "text",
          "source", n = 3, threshold = 0.8, numHashes = h, bands = b))
      // BM25 retrieval (r11): proportional query panel (the registry
      // qb1 shape — every %100 doc of the SCALED corpus queries it).
      // The token bijection keeps each query's candidates copy-local,
      // so per-query work is constant and total cost is the linear
      // corpus scan + linearly-many constant-size rank lists: ~linear
      def bmPanel(dir: String) = Tables.documents(spark, dir)
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("q_id"),
          array_join(slice(filter(split(col("text"), " "),
            w => length(w) > 0), 1, 8), " ").as("qtext"))
      if (tag == "1x") // warm the BM25 plan shape at the cheap scale
        graft.pipeline.TextAnalysis.bm25TopK(Tables.documents(spark, x1),
          "doc_id", "text", bmPanel(x1), "q_id", "qtext", k = 10).count()
      t(s"qb1_bm25_$tag") = time(s"qb1_bm25_$tag",
        graft.pipeline.TextAnalysis.bm25TopK(Tables.documents(spark, d),
          "doc_id", "text", bmPanel(d), "q_id", "qtext", k = 10))
      // qb3 probe (r11): the FIXED 1x query panel against the growing
      // PERSISTED postings index (build untimed, like q86) — the In
      // pushdown + parquet bloom on term read only matching row groups,
      // so probe growth should sit well under qb1's full-rescan tier
      val btable = s"gqb3_idx_$tag"
      graft.pipeline.TextAnalysis.writeBm25Index(
        Tables.documents(spark, d), "doc_id", "text", btable)
      if (tag == "1x") // warm the probe plan shape
        graft.pipeline.TextAnalysis.bm25TopKIndexed(bmPanel(x1), "q_id",
          "qtext", btable, k = 10).count()
      t(s"qb3_probe_$tag") = time(s"qb3_probe_$tag",
        graft.pipeline.TextAnalysis.bm25TopKIndexed(bmPanel(x1), "q_id",
          "qtext", btable, k = 10))
    }

    // index-append maintenance cost (r12, the qc1/qc3 claim measured):
    // a FIXED-size batch (the 1x corpus re-keyed; fresh vectors for the
    // ADC side) appended onto archives of 1x vs 10x size — append work
    // is batch-sized plus the bucketed sink's own exchange, NEVER
    // archive-sized, so the 1x->10x exponent should sit near zero.
    // Targets are the per-tag qb3 postings indexes already built above
    // (probes ran first; the append mutates them, reruns rebuild) plus
    // dedicated ADC indexes (build untimed).
    locally {
      val appDocs = Tables.documents(spark, x1)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_ap"))
      val appVecs = Tables.embeddings(spark, x1)
        .withColumn("vec_id", col("vec_id") + lit(900000000L))
        .withColumn("embedding", expr(
          "transform(sequence(0, 63), i -> " +
          "cast(pmod(hash(vec_id, 77, i), 2000) / 1000.0d - 1.0d as float))"))
      for ((tag, d) <- Seq("1x" -> x1, "10x" -> x10)) {
        Similarity.writeIvfAdcIndexSharded(Tables.embeddings(spark, d),
          "vec_id", "embedding", s"gadc_idx_$tag")
        if (tag == "1x") { // warm both append plan shapes off the clock
          graft.pipeline.TextAnalysis.appendBm25Index(appDocs.limit(50),
            "doc_id", "text", "gqb3_idx_1x")
          Similarity.appendIvfAdcIndexSharded(appVecs.limit(50), "vec_id",
            "embedding", "gadc_idx_1x")
        }
        t(s"qc1_bm25_append_$tag") = timeU(s"qc1_bm25_append_$tag") {
          graft.pipeline.TextAnalysis.appendBm25Index(appDocs, "doc_id",
            "text", s"gqb3_idx_$tag")
          ""
        }
        t(s"qc3_adc_append_$tag") = timeU(s"qc3_adc_append_$tag") {
          Similarity.appendIvfAdcIndexSharded(appVecs, "vec_id",
            "embedding", s"gadc_idx_$tag")
          ""
        }
      }
    }

    // frozen-quantizer DRIFT curve (r13, the qc3 gate's cadence made a
    // measured curve instead of one sample): the quantizer trains on
    // the 1x slice of each scaled corpus (the vec_id < 1e6 originals),
    // the remainder APPENDS against the stored centroids — 1x (no
    // append, the no-drift floor), 2x, and 10x growth — and each grown
    // index's recall@3 on a FIXED 1x query panel is audited against
    // the exact MIPS scan. The 10x point is the retrain-threshold
    // signal the r12 verdict asked for: how far recall has fallen by
    // the time the archive is an order of magnitude past the training
    // distribution. nlist/nprobe derive from the 1x count for every
    // point (the frozen contract: probe effort constant as the archive
    // grows).
    locally {
      for ((tag, d, grow) <- Seq(("1x", x1, false), ("2x", x2, true),
          ("10x", x10, true))) {
        val all = Tables.embeddings(spark, d)
        val base = all.filter(col("vec_id") < 1000000L)
        val itable = s"gdrift_idx_$tag"
        Similarity.writeIvfAdcIndexSharded(base, "vec_id", "embedding",
          itable)
        if (grow)
          Similarity.appendIvfAdcIndexSharded(
            all.filter(col("vec_id") >= 1000000L), "vec_id", "embedding",
            itable)
        val panel = base.filter(col("vec_id") % 100 === 0)
        val rec = Similarity.recallAuditIndexed(all, panel, "vec_id",
            "embedding", k = 3, table = itable)
          .agg(avg(col("recall"))).collect()(0).getDouble(0)
        t(s"qc3_recall3_frozen_$tag") = rec
        System.err.println(
          f"[growth] qc3_recall3_frozen_$tag%-22s $rec%6.3f (recall@3)")
        // the RETRAIN recovery point (r14): at the 10x drift sample —
        // the retrain-threshold signal — run qe3's retrain
        // over the full grown corpus and re-audit on the SAME panel:
        // the recall delta is what the retrain buys, the wall time is
        // what it costs (the full-rebuild price, paid on the drift
        // gate's signal, never per append)
        if (tag == "10x") {
          t("qe3_retrain_10x") = timeU("qe3_retrain_10x") {
            Similarity.retrainIvfAdcIndexSharded(all, "vec_id",
              "embedding", itable)
            ""
          }
          val rec2 = Similarity.recallAuditIndexed(all, panel, "vec_id",
              "embedding", k = 3, table = itable)
            .agg(avg(col("recall"))).collect()(0).getDouble(0)
          t("qe3_recall3_retrained_10x") = rec2
          System.err.println(
            f"[growth] qe3_recall3_retrained_10x $rec2%6.3f (recall@3)")
        }
      }
    }

    // bounded-state sketch tier (r14, the qe8/qf claim measured): the
    // BUILD is the tier's one corpus-scaled pass — asymptotically
    // linear, but measured at the job-overhead floor even at 10x
    // (0.6-0.8 s both scales): a map-side projection + bounded
    // aggregation is that cheap, which IS the tier's selling point.
    // The persisted artifact is BOUNDED, so the PROBE of a table
    // summarizing a 10x corpus and a FIXED-batch append onto it must
    // also sit at exponent ~0 (constant stays constant at the floor).
    locally {
      import graft.pipeline.{Sketches, TextAnalysis}
      def lens(d: String) = Tables.documents(spark, d)
        .select(length(col("text")).cast("long").as("v"))
      if (true) { // warm both build shapes + probe shapes off the clock
        Sketches.writeSketchTable(lens(x1).limit(50), col("v"), "gsk_warm")
        Sketches.quantilesFromSketchTable(spark, "gsk_warm",
          Seq(50, 99)).count()
        TextAnalysis.writeCountMinTable(
          Tables.documents(spark, x1).limit(50), "text", "gcm_warm")
        TextAnalysis.countMinFromTable(spark, "gcm_warm").count()
      }
      for ((tag, d) <- Seq("1x" -> x1, "10x" -> x10)) {
        val st = s"gsk_tbl_$tag"; val ct = s"gcm_tbl_$tag"
        t(s"qe8_sketch_build_$tag") = timeU(s"qe8_sketch_build_$tag") {
          Sketches.writeSketchTable(lens(d), col("v"), st); ""
        }
        t(s"qf4_cm_build_$tag") = timeU(s"qf4_cm_build_$tag") {
          TextAnalysis.writeCountMinTable(Tables.documents(spark, d),
            "text", ct); ""
        }
        t(s"qf1_sketch_append_$tag") = timeU(s"qf1_sketch_append_$tag") {
          Sketches.appendSketchTable(lens(x1), col("v"), st); ""
        }
        t(s"qe8_sketch_probe_$tag") = time(s"qe8_sketch_probe_$tag",
          Sketches.quantilesFromSketchTable(spark, st, Seq(50, 90, 99)))
        t(s"qf5_cm_probe_$tag") = time(s"qf5_cm_probe_$tag",
          TextAnalysis.countMinTopKIndexed(
            Tables.documents(spark, x1).filter(col("doc_id") % 100 === 0),
            "text", ct, k = 20))
      }
    }

    // ---- sharded ADC index: probe cost flat in shard count (r17
    // verdict item 3; ONE-PLAN layout since r20 — r19 item 1) ----
    // same corpus, same fixed panel, 1 / 8 / 32 shards: per-shard
    // nlist shrinks ~1/S while the fan-out adds S probes of 1/S
    // coarse work each — total probe cost must be ~flat. The s32 row
    // is the r20 done-gate: the retired per-shard-plan fan-out paid a
    // measured ~0.1 s/shard of EXECUTION floor (s8/s16/s32 totals
    // 1.4/2.3/3.8 s — N scans, N broadcasts, N exchanges); the
    // one-table probe is one scan + one join at any shard count, so
    // s32 must sit WITH s8 (measured at re-layout: 0.48/0.33/0.28 s
    // for s8/s16/s32 — flat, 13x at s32).
    locally {
      val emb = Tables.embeddings(spark, x1)
      val panel = emb.filter(col("vec_id") % 100 === 0)
      for (sh <- Seq(1, 8, 32)) {
        Similarity.writeIvfAdcIndexSharded(emb, "vec_id", "embedding",
          s"gshard_idx_$sh", nShards = sh)
        // EVERY variant gets an untimed warm probe before its timed
        // run (ADVICE r18): the build clears each shard's quantizer
        // memo, so an unwarmed timed run folds sh first-touch centroid
        // reads + broadcasts into the number — warm-to-warm is the
        // per-plan floor the row exists to measure
        Similarity.ivfAdcTopKIndexedSharded(panel, "vec_id",
          "embedding", k = 3, s"gshard_idx_$sh").count()
        t(s"qshard_probe_s$sh") = time(s"qshard_probe_s$sh",
          Similarity.ivfAdcTopKIndexedSharded(panel, "vec_id",
            "embedding", k = 3, s"gshard_idx_$sh"))
      }
      // stream-vs-oneshot serving (r19; kept in r20 as the regression
      // row for the one-plan layout): the same panel as repeated
      // micro-batches through ONE started streaming fan-out vs
      // repeated one-shot fan-outs. r19 MEASURED that streaming does
      // not amortize the old per-shard floor (1.31 vs 1.24 s —
      // Catalyst re-plans per micro-batch, and the floor was
      // per-branch EXECUTION anyway); with the r20 one-table layout
      // both forms should sit well under both numbers. Both warm;
      // 5 rounds each, per-round seconds.
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        val panelRows = panel
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])].collect().toSeq
        val sink = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft_gshard_stream_${spark.sparkContext.applicationId}")
          .getAbsolutePath
        val ms = MemoryStream[(Long, Array[Float])](spark)
        val q = Similarity.startStreamAdcTopKSharded(
          ms.toDF().toDF("vec_id", "embedding"), "vec_id",
          "embedding", k = 3, "gshard_idx_8", sink)
        try {
          ms.addData(panelRows) // batch 1 warms the started plan
          q.processAllAvailable()
          val t0 = System.nanoTime()
          for (_ <- 1 to 5) {
            ms.addData(panelRows); q.processAllAvailable()
          }
          t("qshard_stream_batch_s8") = (System.nanoTime() - t0) / 5e9
        } finally q.stop()
        val t1 = System.nanoTime()
        for (_ <- 1 to 5)
          Similarity.ivfAdcTopKIndexedSharded(panel, "vec_id",
            "embedding", k = 3, "gshard_idx_8").count()
        t("qshard_oneshot_s8") = (System.nanoTime() - t1) / 5e9
        System.err.println(f"[growth] qshard stream-vs-oneshot s8: " +
          f"per-batch ${t("qshard_stream_batch_s8")}%.2f s vs " +
          f"per-probe ${t("qshard_oneshot_s8")}%.2f s " +
          f"(plan-floor amortization " +
          f"${t("qshard_oneshot_s8") / t("qshard_stream_batch_s8")}%.1fx)")
      }
    }

    // ---- one decade further: the 100x tier (r16 verdict item 3) ----
    // every 100 TB claim extrapolated from a 10x measurement; this adds
    // the next decade for exactly the paths production pays per batch —
    // the three persisted index tiers' probes and appends, the
    // bounded-state tiers, and the REAL qb7/qc2 serving stacks (the
    // registry query bodies verbatim, indexes built untimed on first
    // call). Deliberately skipped at 100x: the quadratic-by-design
    // demo rows (exact all-pairs, wide-angle LSH) whose exponents are
    // already documented as oracle-only shapes. Guarded by an env
    // toggle: the extra decade costs corpus-sized index builds.
    val x100opt =
      if (!sys.env.get("SPARK_GRAFT_GROWTH_X100").contains("1")) None
      else Some(gen(100))
    x100opt.foreach { x100 =>
      import graft.pipeline.{Sketches, TextAnalysis}
      Tables.documents(spark, x100).count()
      Tables.embeddings(spark, x100).count()
      val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
      val batch = evalSplit(x1)._2
      // minhash archive tier: index build untimed, FIXED 1x batch probe
      val c100 = evalSplit(x100)._1
      Dedup.writeMinhashIndex(c100, "doc_id", "text", "g86_idx_100x",
        n = 3, numHashes = h, bands = b)
      t("q86_probe_100x") = time("q86_probe_100x",
        Dedup.incrementalMinhashPairsIndexed(c100, batch, "doc_id",
          "text", "g86_idx_100x", n = 3, threshold = 0.8, numHashes = h,
          bands = b))
      // BM25 postings tier: FIXED 1x panel probe, then the fixed-batch
      // append (order matters — the append mutates the index)
      def bmPanel(dir: String) = Tables.documents(spark, dir)
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("q_id"),
          array_join(slice(filter(split(col("text"), " "),
            w => length(w) > 0), 1, 8), " ").as("qtext"))
      TextAnalysis.writeBm25Index(Tables.documents(spark, x100),
        "doc_id", "text", "gqb3_idx_100x")
      t("qb3_probe_100x") = time("qb3_probe_100x",
        TextAnalysis.bm25TopKIndexed(bmPanel(x1), "q_id", "qtext",
          "gqb3_idx_100x", k = 10))
      val appDocs = Tables.documents(spark, x1)
        .withColumn("doc_id", col("doc_id") + lit(910000000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_aq"))
      t("qc1_bm25_append_100x") = timeU("qc1_bm25_append_100x") {
        TextAnalysis.appendBm25Index(appDocs, "doc_id", "text",
          "gqb3_idx_100x")
        ""
      }
      // ADC tier: fresh indexes at BOTH scales (the earlier 1x index
      // was mutated by its append row), occupancy-constant params from
      // each corpus's own count — the production serving contract —
      // probed by the FIXED 1x panel, then the fixed-batch append
      val appVecs = Tables.embeddings(spark, x1)
        .withColumn("vec_id", col("vec_id") + lit(910000000L))
        .withColumn("embedding", expr(
          "transform(sequence(0, 63), i -> " +
          "cast(pmod(hash(vec_id, 78, i), 2000) / 1000.0d - 1.0d as float))"))
      val panel = Tables.embeddings(spark, x1)
        .filter(col("vec_id") % 100 === 0)
      for ((tag, d) <- Seq("1x" -> x1, "100x" -> x100)) {
        Similarity.writeIvfAdcIndexSharded(Tables.embeddings(spark, d),
          "vec_id", "embedding", s"gadcp_idx_$tag")
        if (tag == "1x") // warm the probe plan shape off the clock
          Similarity.ivfAdcTopKIndexedSharded(panel, "vec_id", "embedding",
            k = 3, table = "gadcp_idx_1x").count()
        t(s"qadc_probe_$tag") = time(s"qadc_probe_$tag",
          Similarity.ivfAdcTopKIndexedSharded(panel, "vec_id", "embedding",
            k = 3, table = s"gadcp_idx_$tag"))
      }
      t("qc3_adc_append_100x") = timeU("qc3_adc_append_100x") {
        Similarity.appendIvfAdcIndexSharded(appVecs, "vec_id", "embedding",
          "gadcp_idx_100x")
        ""
      }
      // bounded-state tiers at the next decade
      def lens(d: String) = Tables.documents(spark, d)
        .select(length(col("text")).cast("long").as("v"))
      t("qe8_sketch_build_100x") = timeU("qe8_sketch_build_100x") {
        Sketches.writeSketchTable(lens(x100), col("v"), "gsk_tbl_100x"); ""
      }
      t("qf4_cm_build_100x") = timeU("qf4_cm_build_100x") {
        TextAnalysis.writeCountMinTable(Tables.documents(spark, x100),
          "text", "gcm_tbl_100x"); ""
      }
      t("qf1_sketch_append_100x") = timeU("qf1_sketch_append_100x") {
        Sketches.appendSketchTable(lens(x1), col("v"), "gsk_tbl_100x"); ""
      }
      t("qe8_sketch_probe_100x") = time("qe8_sketch_probe_100x",
        Sketches.quantilesFromSketchTable(spark, "gsk_tbl_100x",
          Seq(50, 90, 99)))
      t("qf5_cm_probe_100x") = time("qf5_cm_probe_100x",
        TextAnalysis.countMinTopKIndexed(
          Tables.documents(spark, x1).filter(col("doc_id") % 100 === 0),
          "text", "gcm_tbl_100x", k = 20))
      // the REAL serving stacks, registry bodies verbatim: panels are
      // PROPORTIONAL (qb1Queries samples the corpus), so flat per-query
      // work reads as exponent ~1 — the claim under test. First call
      // builds the persisted indexes via buildOnce, untimed; the timed
      // run is pure serving.
      for ((tag, d) <- Seq("1x" -> x1, "100x" -> x100)) {
        graft.SparkEntry.queries("qb7")(spark, d).count()
        t(s"qb7_stack_$tag") = time(s"qb7_stack_$tag",
          graft.SparkEntry.queries("qb7")(spark, d))
        graft.SparkEntry.queries("qc2")(spark, d).count()
        t(s"qc2_stack_$tag") = time(s"qc2_stack_$tag",
          graft.SparkEntry.queries("qc2")(spark, d))
      }
    }

    // ---- the TUNED-ABSOLUTE-NPROBE tier on CLUSTERED vectors ----
    // qadc_probe's 0.44 exponent above is the clusterless recall
    // contract: the fraction law probes frac x nlist cells, so
    // candidates per query are linear in the corpus — on hash-random
    // vectors no inverted file does better. REAL embeddings are
    // clustered with low intrinsic dimension; there the production dial
    // is tuneShardServing's recall-gated ABSOLUTE nprobe and per-query probe
    // work is nprobe x occupancy = constant. This tier measures that
    // claim across the same two decades: clustered corpora at 1x and
    // 100x, the dial tuned by the recall gate at EACH scale, the FIXED
    // 1x panel probing at it. The corpus grows like real data grows —
    // MORE CONTENT MODES at fixed mode size (64 clusters per 2000
    // vectors, ~31 members each, centers over all 64 dims, within-
    // cluster noise in the first 4) — not by densifying fixed blobs: a
    // density-growth variant was measured first and its within-cluster
    // dot margins shrink below the constant int8 noise floor, turning
    // even the QUANTIZER-CEILING top-k into a cluster-wide lottery
    // (the tuned dial inflated to ~one cluster's cell count; recorded
    // in BASELINE.md — that regime is re-rank territory, not probing).
    // Guarded separately: the 100x index build pays the full
    // driver-Lloyd price.
    val tunedOpt =
      if (!sys.env.get("SPARK_GRAFT_GROWTH_TUNED").contains("1")) None
      else Some(())
    tunedOpt.foreach { _ =>
      def genClustered(k: Int): String = {
        val out = s"$base/clm$k"
        val ok = new java.io.File(s"$out/_OK")
        if (!ok.exists()) {
          spark.range(2000L * k).select(col("id").as("vec_id"), expr(
            "transform(sequence(0, 63), i -> cast(" +
            s"pmod(hash(pmod(id, ${64L * k}), 17, i), 2000) / 1000.0d - 1.0d" +
            " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600)" +
            " / 1000.0d - 0.3d ELSE 0.0d END as float))").as("embedding"))
            .repartition(32)
            .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
          ok.getParentFile.mkdirs(); ok.createNewFile()
        }
        out
      }
      val target = 0.8
      val panel1x = spark.read
        .parquet(s"${genClustered(1)}/embeddings.parquet")
        .filter(col("vec_id") % 100 === 0) // FIXED 20-query panel
      for ((tag, k) <- Seq("1x" -> 1, "100x" -> 100)) {
        val emb = spark.read
          .parquet(s"${genClustered(k)}/embeddings.parquet")
        val cnt = emb.count()
        val (nl, fracNp) = Similarity.ivfParams(cnt)
        val groups = math.ceil(math.sqrt(nl.toDouble)).toInt
        // strided init: on separated clusters the default lexicographic-
        // prefix seeds clump and leave multi-cluster cells that inflate
        // the dial (trainCoarseQuantizer doc)
        Similarity.writeIvfAdcIndexSharded(emb, "vec_id", "embedding",
          s"gtuned_idx_$tag", init = "strided")
        // tune on a BOUNDED sample (~200 queries at any scale) — the
        // monitoring-cadence shape; a corpus-proportional panel turns
        // each audit's candidate set corpus-sized. Both dials gate
        // against the QUANTIZER CEILING: nprobe and gprobe dial probing
        // loss; quantization loss is re-rank/retrain territory, and on
        // a dense synthetic whose neighbor margins sit at the int8
        // noise floor a float-exact target would escalate the probe
        // for loss it cannot fix (Similarity.svShardCeiling doc)
        val tunePanel = emb.filter(
          col("vec_id") % lit(math.max(100L, cnt / 200L)) === 0)
        val t0 = System.nanoTime()
        val dials = Similarity.tuneShardServing(tunePanel, "vec_id",
          "embedding", k = 3, s"gtuned_idx_$tag", targetRecall = target)
          .map(_.dials)
        val Seq(dl) = dials
        System.err.println(f"[growth] qadc_tuned_dial_$tag%-14s " +
          f"nprobe=${dl.nprobe} of nlist=$nl (fraction law: $fracNp) " +
          f"probe-recall=${dl.probeRecall}%.3f " +
          f"tune=${(System.nanoTime() - t0) / 1e9}%.1f s")
        t(s"qadc_tuned_np_$tag") = dl.nprobe.toDouble
        t(s"qadc_tuned_recall_$tag") = dl.probeRecall
        // the flat probe at the tuned nprobe: the two-level kernel at
        // full group coverage selects exactly the flat kernel's cells
        val flatDials = Seq(dl.copy(gprobe = groups))
        if (tag == "1x") // warm the probe plan shape off the clock
          Similarity.ivfAdcTopKIndexedShardedTuned(panel1x, "vec_id",
            "embedding", k = 3, "gtuned_idx_1x", flatDials).count()
        t(s"qadc_tuned_probe_$tag") = time(s"qadc_tuned_probe_$tag",
          Similarity.ivfAdcTopKIndexedShardedTuned(panel1x, "vec_id",
            "embedding", k = 3, s"gtuned_idx_$tag", flatDials))
        // the TWO-LEVEL dial at the same gate, then the FIXED panel
        // timed through the hier path
        System.err.println(f"[growth] qadc_hier_dial_$tag%-15s " +
          f"gprobe=${dl.gprobe} of ~$groups groups, " +
          f"hier-recall=${dl.hierRecall}%.3f")
        t(s"qadc_hier_gp_$tag") = dl.gprobe.toDouble
        t(s"qadc_hier_recall_$tag") = dl.hierRecall
        t(s"qadc_hier_probe_$tag") = time(s"qadc_hier_probe_$tag",
          Similarity.ivfAdcTopKIndexedShardedTuned(panel1x, "vec_id",
            "embedding", k = 3, s"gtuned_idx_$tag", dials))
      }

      // ---- TUNED SERVING STACKS (r17 verdict item 1) ----
      // the qb7/qc2 bodies with the dense leg through the tuned
      // broadcast/hier probe, measured on CLUSTERED corpora carrying
      // documents + labels, against the fraction-law probe of the
      // SAME strided index — the timed pairs differ in NOTHING but
      // the dense probe mode (one shared stack body, Queries.scala).
      // Panels are PROPORTIONAL (qb1Queries samples docs; the dense
      // leg samples embeddings), the qb7/qc2_stack philosophy: flat
      // per-query work reads as exponent ~1, and the tuned pair must
      // come in BELOW the fraction pair's exponent because its
      // per-query candidate work is dial-constant instead of
      // fraction-law linear. The recall gate is the serving OUTPUT'S
      // per-query agreement with the fraction-law stack (the qa4/qb5
      // agreement machinery) — recorded beside the times.
      def genStack(k: Int): String = {
        val out = s"$base/stk$k"
        val ok = new java.io.File(s"$out/_OK")
        if (!ok.exists()) {
          spark.read.parquet(s"${gen(k)}/documents.parquet")
            .repartition(32)
            .write.mode("overwrite").parquet(s"$out/documents.parquet")
          spark.range(2000L * k).select(col("id").as("vec_id"), expr(
            "transform(sequence(0, 63), i -> cast(" +
            s"pmod(hash(pmod(id, ${64L * k}), 17, i), 2000) / 1000.0d" +
            " - 1.0d + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600)" +
            " / 1000.0d - 0.3d ELSE 0.0d END as float))").as("embedding"),
            pmod(hash(col("id"), lit(7)), lit(10)).cast("int")
              .as("label"))
            .repartition(32)
            .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
          ok.getParentFile.mkdirs(); ok.createNewFile()
        }
        out
      }
      for ((tag, k) <- Seq("1x" -> 1, "100x" -> 100)) {
        val d = genStack(k)
        val emb = Tables.embeddings(spark, d)
        val cnt = emb.count()
        val (_, fracNp) = Similarity.ivfParams(cnt)
        val tbl = s"gstk_idx_$tag"
        Similarity.writeIvfAdcIndexSharded(emb, "vec_id", "embedding",
          tbl, init = "strided")
        val tunePanel = emb.filter(
          col("vec_id") % lit(math.max(100L, cnt / 200L)) === 0)
        val dials = Similarity.tuneShardServing(tunePanel, "vec_id",
          "embedding", k = 3, tbl, targetRecall = 0.8).map(_.dials)
        System.err.println(f"[growth] stack dials $tag%-5s " +
          f"np=${dials.head.nprobe} gp=${dials.head.gprobe} " +
          f"probe-recall=${dials.head.probeRecall}%.3f " +
          f"hier-recall=${dials.head.hierRecall}%.3f " +
          f"(fraction law np=$fracNp)")
        def frac(q: DataFrame, kk: Int): DataFrame =
          Similarity.ivfAdcTopKIndexedSharded(q, "vec_id", "embedding",
            kk, tbl)
        def tuned(q: DataFrame, kk: Int): DataFrame =
          Similarity.ivfAdcTopKIndexedShardedTuned(q, "vec_id",
            "embedding", kk, tbl, dials)
        // warm: the first call of each shape builds the lex index and
        // the qc2 count table (buildOnce, untimed) and compiles the
        // stack's plan
        graft.RelationalQueries.qb7Stack(spark, d, frac).count()
        t(s"qb7_stack_frac_$tag") = time(s"qb7_stack_frac_$tag",
          graft.RelationalQueries.qb7Stack(spark, d, frac))
        graft.RelationalQueries.qb7Stack(spark, d, tuned).count()
        t(s"qb7_stack_tuned_$tag") = time(s"qb7_stack_tuned_$tag",
          graft.RelationalQueries.qb7Stack(spark, d, tuned))
        graft.RelationalQueries.qc2Stack(spark, d, frac).count()
        t(s"qc2_stack_frac_$tag") = time(s"qc2_stack_frac_$tag",
          graft.RelationalQueries.qc2Stack(spark, d, frac))
        graft.RelationalQueries.qc2Stack(spark, d, tuned).count()
        t(s"qc2_stack_tuned_$tag") = time(s"qc2_stack_tuned_$tag",
          graft.RelationalQueries.qc2Stack(spark, d, tuned))
        def agree(a: DataFrame, b: DataFrame): Double =
          Similarity.retrievalAgreement(a, b, "q_id", "doc_id")
            .agg((sum("n_both") / sum("n_b")).cast("double"))
            .head().getDouble(0)
        t(s"qb7_stack_agree_$tag") = agree(
          graft.RelationalQueries.qb7Stack(spark, d, tuned),
          graft.RelationalQueries.qb7Stack(spark, d, frac))
        t(s"qc2_stack_agree_$tag") = agree(
          graft.RelationalQueries.qc2Stack(spark, d, tuned),
          graft.RelationalQueries.qc2Stack(spark, d, frac))
      }

      // ---- TUNED SERVING THROUGH THE SHARDED INDEX (r19, r18
      // verdict item 1) ---- sharding is the horizontal 100 TB dial;
      // until r19 its fan-out re-inherited the fraction law's linear
      // per-shard candidates — the tuned/hier serving dials existed
      // only on the unsharded tier. This block gates the
      // composition on the stack corpora: per-shard recall-gated
      // dials (tuneShardServing, each shard against its own quantizer
      // ceiling), the two-level broadcast probe per shard. Expected FLAT
      // in both corpus scale (s8: 1x -> 100x) and shard count (1x:
      // s1 -> s8 -> s32 — the s32 point is the r20 one-plan done-gate:
      // under the retired per-shard-plan fan-out it paid ~0.1 s/shard
      // of execution floor and was not even measured; now the probe is
      // one scan + one join at any shard count), with the FUSED qb7
      // stack output agreeing >= 0.94 with the fraction-law fan-out
      // over the SAME sharded index. The tune line also records r19
      // item 3: tuneShardServing runs its shards CONCURRENTLY on a
      // bounded pool (was 26 s sequential at 1x/s8). s1/s32 at 100x
      // are deliberately skipped: nShards=1 is the tuned tier above
      // (the gtuned/gstk indexes), and the 100x tier's cost
      // budget is the s8 serving point, not a shard-count sweep.
      locally {
        val probePanel = Tables.embeddings(spark, genStack(1))
          .filter(col("vec_id") % 100 === 0) // FIXED 20-query panel
        for ((tag, k) <- Seq("1x" -> 1, "100x" -> 100);
            sh <- Seq(1, 8, 32) if !(k == 100 && sh != 8)) {
          val d = genStack(k)
          val emb = Tables.embeddings(spark, d)
          val cnt = emb.count()
          val tbl = s"gshtn_idx_${tag}_s$sh"
          Similarity.writeIvfAdcIndexSharded(emb, "vec_id",
            "embedding", tbl, nShards = sh, init = "strided")
          val tunePanel = emb.filter(
            col("vec_id") % lit(math.max(100L, cnt / 200L)) === 0)
          val t0 = System.nanoTime()
          val dials = Similarity.tuneShardServing(tunePanel, "vec_id",
            "embedding", k = 3, tbl, targetRecall = 0.8).map(_.dials)
          System.err.println(f"[growth] qshard_tuned_dials_${tag}_s$sh " +
            dials.map(dd => s"np=${dd.nprobe}/gp=${dd.gprobe}")
              .mkString(",") +
            f" min-recall=${dials.map(_.hierRecall).min}%.3f" +
            f" tune=${(System.nanoTime() - t0) / 1e9}%.1f s")
          // EVERY variant warmed off the clock (warm-to-warm, the
          // ADVICE r18 discipline)
          Similarity.ivfAdcTopKIndexedShardedTuned(probePanel,
            "vec_id", "embedding", k = 3, tbl, dials).count()
          t(s"qshard_tuned_${tag}_s$sh") =
            time(s"qshard_tuned_${tag}_s$sh",
              Similarity.ivfAdcTopKIndexedShardedTuned(probePanel,
                "vec_id", "embedding", k = 3, tbl, dials))
          // fused agreement: the qb7 stack with its dense leg through
          // the tuned fan-out vs the fraction-law fan-out, SAME index
          def agree(a: DataFrame, b: DataFrame): Double =
            Similarity.retrievalAgreement(a, b, "q_id", "doc_id")
              .agg((sum("n_both") / sum("n_b")).cast("double"))
              .head().getDouble(0)
          def fracLeg(q: DataFrame, kk: Int): DataFrame =
            Similarity.ivfAdcTopKIndexedSharded(q, "vec_id",
              "embedding", kk, tbl)
          def tunedLeg(q: DataFrame, kk: Int): DataFrame =
            Similarity.ivfAdcTopKIndexedShardedTuned(q, "vec_id",
              "embedding", kk, tbl, dials)
          t(s"qshard_tuned_agree_${tag}_s$sh") = agree(
            graft.RelationalQueries.qb7Stack(spark, d, tunedLeg),
            graft.RelationalQueries.qb7Stack(spark, d, fracLeg))
        }
        System.err.println(f"[growth] exponent qshard_tuned s8 " +
          f"1x->100x ${math.log(t("qshard_tuned_100x_s8") /
            t("qshard_tuned_1x_s8")) / math.log(100)}%5.2f; " +
          f"s1->s8 fan-out ratio at 1x ${t("qshard_tuned_1x_s8") /
            t("qshard_tuned_1x_s1")}%4.2f; " +
          f"s8->s32 ratio at 1x ${t("qshard_tuned_1x_s32") /
            t("qshard_tuned_1x_s8")}%4.2f (one-plan gate: ~1.0)")
      }
    }

    def exp(label: String, t1: Double, tk: Double, k: Double): Unit =
      System.err.println(
        f"[growth] exponent $label%-28s ${math.log(tk / t1) / math.log(k)}%5.2f")
    System.err.println("[growth] --- runtime growth exponents (T ~ n^e) ---")
    exp("q31_minhash 1x->10x", t("q31_minhash_1x"), t("q31_minhash_10x"), 10)
    exp("q33_ngram_exact 1x->10x", t("q33_ngram_exact_1x"),
      t("q33_ngram_exact_10x"), 10)
    exp("q34_exact 1x->2x", t("q34_exact_1x"), t("q34_exact_2x"), 2)
    exp("q34_exact 2x->10x", t("q34_exact_2x"), t("q34_exact_10x"), 5)
    exp("q34b_lsh_tau05 1x->2x", t("q34b_lsh_tau05_1x"),
      t("q34b_lsh_tau05_2x"), 2)
    exp("q34c_clusters_tau05 1x->2x", t("q34c_clusters_tau05_1x"),
      t("q34c_clusters_tau05_2x"), 2)
    exp("lsh_tau09 fixed 1x->10x", t("lsh_tau09_fixed_1x"),
      t("lsh_tau09_fixed_10x"), 10)
    exp("lsh_tau09 scaled 1x->10x", t("lsh_tau09_fixed_1x"),
      t("lsh_tau09_scaled_10x"), 10)
    exp("q35c_ivf fixed 1x->10x", t("q35c_ivf_fixed_1x"),
      t("q35c_ivf_fixed_10x"), 10)
    exp("q35c_ivf scaled 1x->10x", t("q35c_ivf_fixed_1x"),
      t("q35c_ivf_scaled_10x"), 10)
    exp("q89_adc fixed 1x->10x", t("q89_adc_fixed_1x"),
      t("q89_adc_fixed_10x"), 10)
    exp("q89_adc scaled 1x->10x", t("q89_adc_fixed_1x"),
      t("q89_adc_scaled_10x"), 10)
    exp("q88_semdedup 1x->10x", t("q88_semdedup_1x"),
      t("q88_semdedup_10x"), 10)
    exp("q90_overlap 1x->10x", t("q90_overlap_1x"), t("q90_overlap_10x"), 10)
    exp("q65_repetition 1x->10x", t("q65_repetition_1x"),
      t("q65_repetition_10x"), 10)
    exp("q66_contamination 1x->10x", t("q66_contamination_1x"),
      t("q66_contamination_10x"), 10)
    exp("q70_clean 1x->10x", t("q70_clean_1x"), t("q70_clean_10x"), 10)
    exp("q75_fluency 1x->10x", t("q75_fluency_1x"), t("q75_fluency_10x"), 10)
    exp("q73_incremental 1x->10x", t("q73_incremental_1x"),
      t("q73_incremental_10x"), 10)
    exp("q86_probe 1x->10x", t("q86_probe_1x"), t("q86_probe_10x"), 10)
    exp("q78_substring 1x->10x", t("q78_substring_1x"),
      t("q78_substring_10x"), 10)
    exp("q81_encode 1x->10x", t("q81_encode_1x"), t("q81_encode_10x"), 10)
    exp("q70s_stream 1x->10x", t("q70s_1x"), t("q70s_10x"), 10)
    exp("qa5_epoch 1x->10x", t("qa5_epoch_1x"), t("qa5_epoch_10x"), 10)
    exp("qa7_fuzzy 1x->10x", t("qa7_fuzzy_1x"), t("qa7_fuzzy_10x"), 10)
    exp("qa4_audit 1x->10x", t("qa4_audit_1x"), t("qa4_audit_10x"), 10)
    exp("qb1_bm25 1x->10x", t("qb1_bm25_1x"), t("qb1_bm25_10x"), 10)
    exp("qb3_probe 1x->10x", t("qb3_probe_1x"), t("qb3_probe_10x"), 10)
    exp("qc1_bm25_append 1x->10x", t("qc1_bm25_append_1x"),
      t("qc1_bm25_append_10x"), 10)
    exp("qc3_adc_append 1x->10x", t("qc3_adc_append_1x"),
      t("qc3_adc_append_10x"), 10)
    exp("qe8_sketch_build 1x->10x", t("qe8_sketch_build_1x"),
      t("qe8_sketch_build_10x"), 10)
    exp("qf4_cm_build 1x->10x", t("qf4_cm_build_1x"),
      t("qf4_cm_build_10x"), 10)
    exp("qf1_sketch_append 1x->10x", t("qf1_sketch_append_1x"),
      t("qf1_sketch_append_10x"), 10)
    exp("qe8_sketch_probe 1x->10x", t("qe8_sketch_probe_1x"),
      t("qe8_sketch_probe_10x"), 10)
    exp("qf5_cm_probe 1x->10x", t("qf5_cm_probe_1x"),
      t("qf5_cm_probe_10x"), 10)
    exp("qshard_probe s1->s8", t("qshard_probe_s1"),
      t("qshard_probe_s8"), 8)
    exp("qshard_probe s8->s32", t("qshard_probe_s8"),
      t("qshard_probe_s32"), 4)
    if (x100opt.isDefined) {
      System.err.println(
        "[growth] --- one decade further: 1x -> 100x exponents ---")
      exp("q86_probe 1x->100x", t("q86_probe_1x"), t("q86_probe_100x"), 100)
      exp("qb3_probe 1x->100x", t("qb3_probe_1x"), t("qb3_probe_100x"), 100)
      exp("qc1_bm25_append 1x->100x", t("qc1_bm25_append_1x"),
        t("qc1_bm25_append_100x"), 100)
      exp("qadc_probe 1x->100x", t("qadc_probe_1x"),
        t("qadc_probe_100x"), 100)
      exp("qc3_adc_append 1x->100x", t("qc3_adc_append_1x"),
        t("qc3_adc_append_100x"), 100)
      exp("qe8_sketch_build 1x->100x", t("qe8_sketch_build_1x"),
        t("qe8_sketch_build_100x"), 100)
      exp("qf4_cm_build 1x->100x", t("qf4_cm_build_1x"),
        t("qf4_cm_build_100x"), 100)
      exp("qf1_sketch_append 1x->100x", t("qf1_sketch_append_1x"),
        t("qf1_sketch_append_100x"), 100)
      exp("qe8_sketch_probe 1x->100x", t("qe8_sketch_probe_1x"),
        t("qe8_sketch_probe_100x"), 100)
      exp("qf5_cm_probe 1x->100x", t("qf5_cm_probe_1x"),
        t("qf5_cm_probe_100x"), 100)
      exp("qb7_stack 1x->100x", t("qb7_stack_1x"), t("qb7_stack_100x"), 100)
      exp("qc2_stack 1x->100x", t("qc2_stack_1x"), t("qc2_stack_100x"), 100)
    }
    if (tunedOpt.isDefined) {
      System.err.println(
        "[growth] --- tuned absolute nprobe on CLUSTERED vectors ---")
      exp("qadc_tuned_probe 1x->100x", t("qadc_tuned_probe_1x"),
        t("qadc_tuned_probe_100x"), 100)
      exp("qadc_hier_probe 1x->100x", t("qadc_hier_probe_1x"),
        t("qadc_hier_probe_100x"), 100)
      exp("qb7_stack_frac 1x->100x", t("qb7_stack_frac_1x"),
        t("qb7_stack_frac_100x"), 100)
      exp("qb7_stack_tuned 1x->100x", t("qb7_stack_tuned_1x"),
        t("qb7_stack_tuned_100x"), 100)
      exp("qc2_stack_frac 1x->100x", t("qc2_stack_frac_1x"),
        t("qc2_stack_frac_100x"), 100)
      exp("qc2_stack_tuned 1x->100x", t("qc2_stack_tuned_1x"),
        t("qc2_stack_tuned_100x"), 100)
      System.err.println(
        f"[growth] stack agreement (tuned vs fraction-law, frac of " +
        f"fused top-k shared): qb7 1x=${t("qb7_stack_agree_1x")}%.3f " +
        f"100x=${t("qb7_stack_agree_100x")}%.3f  qc2 " +
        f"1x=${t("qc2_stack_agree_1x")}%.3f " +
        f"100x=${t("qc2_stack_agree_100x")}%.3f")
    }

    val json = t.map { case (k, v) =>
      "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"growth","points":$json}""")
    spark.stop()
  }
}
