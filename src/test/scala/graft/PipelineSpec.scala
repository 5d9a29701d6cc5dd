package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Dedup, Multimodal, Portable, Quantize, Similarity, TextAnalysis}

class DedupSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"),  // near dup of 0
    (3L, "completely different words appear in this one here now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps the smallest id per text") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("deleteMinhashDocs: tombstoned docs vanish from the screen; compaction removes them physically; replays are no-ops") {
    // archive {0, 1, 3} with docs 0/1 exact dups; the screened batch
    // doc 9 is another exact copy, so the screen yields (0,9) and
    // (1,9) at J=1.0 — banding catches identical signatures with
    // certainty, keeping this fixture deterministic
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val archive = docs.filter(col("doc_id").isin(0L, 1L, 3L))
    val batch = Seq(
      (9L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def screen() = Dedup.incrementalMinhashPairsIndexed(
        archive, batch, "doc_id", "text", "mh_del_idx", n = 3,
        threshold = 0.8, numHashes = h, bands = b)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    try {
      Dedup.writeMinhashIndex(archive, "doc_id", "text", "mh_del_idx",
        n = 3, numHashes = h, bands = b)
      assert(screen() == Set((0L, 9L), (1L, 9L)))
      Dedup.deleteMinhashDocs(spark, "mh_del_idx",
        Seq(1L, 99L).toDF("doc_id"), "doc_id") // 99 not in the archive
      assert(screen() == Set((0L, 9L)), "deleted doc still screened")
      Dedup.deleteMinhashDocs(spark, "mh_del_idx",
        Seq(1L).toDF("doc_id"), "doc_id") // replay: no-op
      assert(screen() == Set((0L, 9L)))
      Dedup.compactMinhashIndex(spark, "mh_del_idx")
      assert(!spark.catalog.tableExists("mh_del_idx_t"))
      assert(spark.table("mh_del_idx")
        .filter(col("id") === 1L).count() == 0,
        "compaction left the deleted doc's band rows")
      assert(screen() == Set((0L, 9L)))
    } finally {
      for (t <- Seq("mh_del_idx", "mh_del_idx_t", "mh_del_idx_compact_shadow"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("appendMinhashIndex + compactMinhashIndex: build+append == rebuild, compaction keeps rows and drops generations") {
    // the qd5 contract: band rows are pure functions of the documents
    // and the fixed hash family, so growing the archive by a batch
    // append must be row-identical to a one-shot rebuild over the
    // union; compaction then collapses the file generations to the
    // rebuild's count without touching a row, and the incremental
    // screen is unchanged throughout
    import org.apache.spark.sql.functions.col
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val base = corpus.filter(col("doc_id") < 30)
    val batch = corpus.filter(col("doc_id") >= 30 && col("doc_id") < 50)
    val screened = corpus.filter(col("doc_id") >= 50)
    def tableDir(t: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    def dataFiles(t: String) = tableDir(t).listFiles()
      .count(f => f.getName.startsWith("part-"))
    def rows(t: String) = spark.table(t)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    def screen(t: String) = Dedup.incrementalMinhashPairsIndexed(
        corpus.filter(col("doc_id") < 50), screened, "doc_id", "text",
        t, n = 3, threshold = 0.8, numHashes = h, bands = b)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    try {
      Dedup.writeMinhashIndex(base, "doc_id", "text", "mh_app_idx",
        n = 3, numHashes = h, bands = b)
      Dedup.appendMinhashIndex(batch, "doc_id", "text", "mh_app_idx",
        n = 3, numHashes = h, bands = b)
      Dedup.writeMinhashIndex(corpus.filter(col("doc_id") < 50),
        "doc_id", "text", "mh_ref_idx", n = 3, numHashes = h, bands = b)
      assert(rows("mh_app_idx").nonEmpty &&
        rows("mh_app_idx") == rows("mh_ref_idx"))
      val grown = screen("mh_app_idx")
      assert(grown == screen("mh_ref_idx"))
      val before = dataFiles("mh_app_idx")
      Dedup.compactMinhashIndex(spark, "mh_app_idx")
      val after = dataFiles("mh_app_idx")
      assert(after < before, s"file count $before -> $after")
      assert(after == dataFiles("mh_ref_idx"),
        s"compacted files $after != rebuilt ${dataFiles("mh_ref_idx")}")
      assert(rows("mh_app_idx") == rows("mh_ref_idx"))
      assert(screen("mh_app_idx") == grown)
      // retry idempotence: a replayed append duplicates band rows
      // physically, but the screen's candidate/sizes distincts make
      // the result identical — no generation protocol needed on this
      // tier (the appendMinhashIndex crash-safety contract)
      Dedup.appendMinhashIndex(batch, "doc_id", "text", "mh_app_idx",
        n = 3, numHashes = h, bands = b)
      assert(screen("mh_app_idx") == grown,
        "replayed append changed the screen result")
      // appending to a missing index fails loudly
      intercept[Exception] {
        Dedup.appendMinhashIndex(batch, "doc_id", "text",
          "mh_missing_idx", n = 3, numHashes = h, bands = b)
      }
    } finally {
      for (t <- Seq("mh_app_idx", "mh_app_idx_compact_shadow", "mh_ref_idx"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("ngram jaccard finds the near-dup pair with the exact value") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, math.rint(j * 1000) / 1000) }.toSet
    // 9 words -> 7 shingles; docs 0/1 identical (J=1); 0-2 and 1-2 share
    // 5 shingles of a 9-shingle union (J=5/9)
    assert(out == Set((0L, 1L, 1.0), (0L, 2L, 0.556), (1L, 2L, 0.556)))
  }

  test("groupOverlap computes exact pairwise distinct-gram jaccard between groups") {
    // groups: A = docs 0+1 (identical texts, so A's gram set = doc 0's),
    // B = the near-dup, C = the disjoint doc. 3-grams: 9 words -> 7 each.
    val grouped = docs.withColumn("src",
      when(col("doc_id") <= 1, "A")
        .when(col("doc_id") === 2, "B").otherwise("C"))
    val out = Dedup.groupOverlap(grouped, "src", "text", n = 3)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    // A vs B share 5 of 7+7-5=9 grams; C intersects nothing (inner join
    // drops the empty pairs — absence of A-C / B-C rows IS the assertion)
    assert(out == Set(("A", "B", 7L, 7L, 5L, 5.0 / 9.0)))
  }

  test("substringDupCoverage counts exactly the cross-doc duplicated span positions") {
    val out = Dedup.substringDupCoverage(docs, "doc_id", "text", l = 4)
      .select("doc_id", "n_tokens", "dup_span_tokens")
      .as[(Long, Int, Long)].collect().toSet
    // docs 0/1 are identical (all 9 positions covered); doc 2 shares the
    // 7-token prefix "the quick brown fox jumps over the" -> 4 common
    // 4-grams covering positions 0-6; doc 3 shares nothing
    assert(out == Set((0L, 9, 9L), (1L, 9, 9L), (2L, 9, 7L)))
  }

  test("removeDuplicatedSpans rewrites docs with covered spans dropped, others verbatim") {
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", l = 4)
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "" && out(1L) == "")    // fully duplicated docs vanish
    assert(out(2L) == "sleepy dog")           // shared 7-token prefix drops
    assert(out(3L) == "completely different words appear in this one here now")
  }

  test("incrementalMinhashPairs finds only cross pairs — never batch- or corpus-internal ones") {
    val corpus = docs.filter($"doc_id".isin(0L, 3L))
    val batch = docs.filter($"doc_id".isin(1L, 2L))
    val out = Dedup.incrementalMinhashPairs(corpus, batch, "doc_id", "text",
        n = 3, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 0-1 exact dup (J=1) and 0-2 near dup (J=5/9) cross the boundary;
    // the batch-internal near-dup 1-2 (J=5/9) must NOT be reported
    assert(out == Set((0L, 1L), (0L, 2L)))
  }

  test("map-side minhash signatures equal the aggregate path bit-for-bit (pairs and jaccards)") {
    for (d <- Seq(docs,
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))) {
      val agg = Dedup.minhashLshPairs(d, "doc_id", "text", n = 3,
        threshold = 0.4, mapSideSigs = false)
        .as[(Long, Long, Double)].collect().toSet
      val mapSide = Dedup.minhashLshPairs(d, "doc_id", "text", n = 3,
        threshold = 0.4, mapSideSigs = true)
        .as[(Long, Long, Double)].collect().toSet
      assert(mapSide == agg)
    }
  }

  test("map-side sigs equal the aggregate path on hostile whitespace (tabs, newlines, doubled spaces)") {
    // the regex twin only shingles across single 0x20 gaps — the byte
    // walker must agree on every \s variant, not just normalized text
    val hostile = Seq(
      (10L, "plain single spaced words here okay"),
      (11L, "tab\tsplits the window here badly"),
      (12L, "doubled  space gap in this doc"),
      (13L, "line\nbreak and\r\nmore text follows here"),
      (14L, "a\tb\tc"),                 // 3 words but zero shingles at n=3
      (15L, " leading and trailing  "),
      (16L, "\t\n  \r")                 // whitespace-only
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val agg = Dedup.minhashLshPairs(hostile, "doc_id", "text", n = n,
        threshold = 0.1, mapSideSigs = false)
        .as[(Long, Long, Double)].collect().toSet
      val mapSide = Dedup.minhashLshPairs(hostile, "doc_id", "text", n = n,
        threshold = 0.1, mapSideSigs = true)
        .as[(Long, Long, Double)].collect().toSet
      assert(mapSide == agg, s"n=$n: $mapSide vs $agg")
    }
    // signature-level identity on the hostile docs too
    import org.apache.spark.sql.functions.call_function
    graft.functions.VectorOps.ensureRegistered(spark)
    val sigs = hostile.select(col("doc_id"),
        call_function("minhash_sigs", col("text"), lit(3), lit(8)).as("s"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    // docs whose every 3-window crosses a bad gap must be null — the
    // regex twin produces no posting row for them either
    val postingIds = Dedup.shinglePostings(hostile, "doc_id", "text", 3)
      .select("id").distinct().as[Long].collect().toSet
    assert(sigs(14L).isEmpty && sigs(16L).isEmpty, sigs)
    assert(sigs(10L).nonEmpty && sigs(11L).nonEmpty, sigs)
    assert(sigs.filter(_._2.nonEmpty).keySet == postingIds, sigs)
  }

  test("map-side minhash signature values equal the aggregate signatures themselves") {
    import org.apache.spark.sql.functions.{element_at, call_function}
    graft.functions.VectorOps.ensureRegistered(spark)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaExpr = d.select(col("doc_id"),
        call_function("minhash_sigs", col("text"), lit(3), lit(24)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), element_at(col("s"), 1).as("h0"),
        element_at(col("s"), 24).as("h23"), element_at(col("s"), 25).as("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaAgg = {
      val ds = graft.pipeline.Dedup.shinglePostings(d, "doc_id", "text", 3)
      val params = graft.pipeline.Dedup.hashParams(24)
      val P = graft.pipeline.Dedup.P
      val x = col("sh") % P
      ds.groupBy(col("id")).agg(
          min((lit(params.head._1) * x + lit(params.head._2)) % P).as("h0"),
          min((lit(params(23)._1) * x + lit(params(23)._2)) % P).as("h23"),
          count(lit(1)).as("n"))
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    assert(viaExpr == viaAgg)
  }

  test("minhash LSH recalls the exact-dup and high-jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact && exact == Set((0L, 1L)))
  }

  test("clusters: chains merge transitively, components stay separate") {
    // chain 1-2, 2-3 (one component) and isolated pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // driver union-find path (under threshold)
    assert(graft.pipeline.Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap == expected)
    // distributed label-propagation path (threshold forced to 0)
    assert(graft.pipeline.Dedup.clusters(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap == expected)
  }

  test("simhash: identical texts collide, disjoint texts differ") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(3L))
    // near-dup should be within small hamming distance
    val ham = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    assert(ham <= 15, s"hamming $ham")
  }

  test("minhashParams derives (hashes, bands) meeting the banding law, maximal band width") {
    for (tau <- Seq(0.5, 0.8, 0.9); target <- Seq(0.9, 0.95)) {
      val maxH = 48
      val (h, b) = Dedup.minhashParams(tau, target, maxHashes = maxH)
      val r = h / b
      assert(h % b == 0 && h <= maxH, s"tau=$tau target=$target -> ($h, $b)")
      assert(Dedup.minhashRecall(tau, r, b) >= target,
        s"tau=$tau target=$target -> ($h, $b)")
      // bands minimal for this width...
      if (b > 1) assert(Dedup.minhashRecall(tau, r, b - 1) < target,
        s"bands not minimal: tau=$tau -> ($h, $b)")
      // ...and width maximal under the hash budget (r+1 rows/band cannot
      // reach the target within maxH hashes)
      assert(Dedup.minhashRecall(tau, r + 1, maxH / (r + 1)) < target,
        s"rows not maximal: tau=$tau -> ($h, $b)")
    }
    // pins the oracle-gated q31/q31b call site: derived, not hand-picked
    assert(Dedup.minhashParams(0.8, 0.95, maxHashes = 24) == (24, 6))
  }
}

class SimilaritySpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f)),
    (2L, Array(0f, 1f, 0f)),
    (3L, Array(0f, 0f, 1f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val out = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((0L, 1L, 1), (0L, 2L, 2)))
  }

  test("nearDupPairs finds only the aligned pair at 0.9") {
    val out = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L)))
  }

  test("lshTopK: same-bucket neighbors are exact-cosine ranked") {
    val out = Similarity.lshTopK(vecs, "vec_id", "embedding",
        k = 2, planes = 2, dim = 3)
      .as[(Long, Long, Int, Double)].collect()
    // buckets are data-dependent; verify structural properties
    assert(out.forall { case (q, nb, _, _) => q != nb })
    val ranks = out.groupBy(_._1).values
    assert(ranks.forall(rs => rs.map(_._3).sorted.toSeq == (1 to rs.size)))
  }

  test("semDedup drops exactly the vectors with a smaller-id near neighbor in their cell") {
    // 4 vectors -> nlist = ceil(4/32) = 1 cell, so the within-cell rule
    // sees every pair: at tau=0.9 only (0,1) crosses (cos ~ 0.9939) and
    // the larger id drops; at tau above the max pairwise cosine nothing
    // does — threshold monotonicity in the same run
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        tau = 0.9, dim = 3)
      .as[(Long, Int, Boolean)].collect().toSet
    assert(out == Set((0L, 0, true), (1L, 0, false),
      (2L, 0, true), (3L, 0, true)))
    val all = Similarity.semDedup(vecs, "vec_id", "embedding",
        tau = 0.999, dim = 3)
      .as[(Long, Int, Boolean)].collect()
    assert(all.forall(_._3), all.mkString(","))
  }

  test("graft Column APIs need no function registry: a fresh session's results equal the registered session's") {
    // newSession() starts from Spark's built-in registry, none of
    // graft's SQL names; the Column APIs must resolve there unchanged
    import graft.functions.{SignBuckets, VectorOps}
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions.call_function
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("vec_dot"))
    val rows = Seq(
      (1L, Array(0.5f, -1f, 2f, 0f), "the quick brown fox jumps"),
      (2L, Array(0f, 0f, 0f, 0f), "one two"),
      (3L, Array(Float.NaN, 1f, -3f, 0.25f), "a b c a b c a b"))
    val hps = Array.tabulate(2)(t =>
      Similarity.hyperplanes(3, 4, seed = s"registry$t"))
    def kernels(s: SparkSession): DataFrame = {
      val df = s.createDataFrame(rows).toDF("id", "v", "text")
      val qc = VectorOps.packQuant(col("v"), VectorOps.maxAbs(col("v")))
      df.select(col("id"), VectorOps.vecDot(col("v"), col("v")).as("dot"),
        qc.as("qc"), VectorOps.i8Dot(qc, qc).as("idot"),
        VectorOps.packI8(array(lit(1), lit(-2), lit(127))).as("p8"),
        SignBuckets(col("v"), hps).as("sb"),
        Portable.hash60Fast(col("text")).as("h"))
    }
    def sigs(s: SparkSession): DataFrame = Dedup.mapSideSignatures(
      s.createDataFrame(rows).toDF("id", "v", "text"), "id", "text", 2, 8)
    graft.functions.VectorOps.ensureRegistered(spark)
    for (f <- Seq(kernels _, sigs _)) {
      val want = f(spark).orderBy("id").collect().toSeq
      assert(want.nonEmpty)
      assert(f(fresh).orderBy("id").collect().toSeq == want)
    }
    // an unaliased Column API keeps the output name of the by-name call
    val df = spark.createDataFrame(rows).toDF("id", "v", "text")
    val direct = df.select(VectorOps.vecDot(col("v"), col("v")),
      VectorOps.maxAbs(col("v")), Portable.hash60Fast(col("text")))
    val byName = df.select(call_function("vec_dot", col("v"), col("v")),
      call_function("max_abs", col("v")), call_function("hash60", col("text")))
    assert(direct.schema == byName.schema)
  }

  test("native max_abs/pack_quant equal the declarative fold + codes, hostile rows included") {
    // value parity of the codegen'd quantize kernels vs the declarative
    // HOF form the q84 oracle mirrors — real corpus plus the NaN / +Inf
    // / zero-vector rows (the guard outcomes must coincide even though
    // Java's NaN>0 is false where Spark's is true: both routes land on
    // the all-zero-code branch)
    val hostile = Seq(
      (9001L, Array(Float.NaN, 1f, 2f, 3f)),
      (9002L, Array(Float.PositiveInfinity, 1f, 2f, 3f)),
      (9003L, Array(0f, 0f, 0f, 0f)),
      (9004L, Array(1f, -0.504f, 0.252f, 0f))
    ).toDF("vec_id", "embedding")
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding").unionByName(hostile)
    val v = transform(col("embedding"), _.cast("double"))
    val declScale = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    val declBlob =
      graft.functions.VectorOps.packI8(Quantize.codesOf(v, declScale))
    val out = corpus.select(declScale.as("ds"),
        Quantize.scaleOf(col("embedding")).as("ns"), declBlob.as("db"),
        graft.functions.VectorOps.packQuant(col("embedding"),
          Quantize.scaleOf(col("embedding"))).as("nb"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"scale ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)),
        s"blob mismatch for scale ${r.getDouble(0)}")
    }
  }

  test("i8_dot over packed blobs (codegen path) equals the declarative integer dot") {
    val q = Quantize.int8(vecs, "vec_id", "embedding")
      .select(col("id"), col("q"))
    val p = Quantize.packedInt8(vecs, "vec_id", "embedding")
      .select(col("id"), col("qc"))
    val both = q.join(p, "id")
    val pairs = both.as("a").crossJoin(both.as("b"))
      .select(
        graft.functions.VectorOps.i8Dot(col("a.qc"), col("b.qc"))
          .as("native"),
        aggregate(zip_with(col("a.q"), col("b.q"),
            (x, y) => x.cast("long") * y),
          lit(0L), _ + _).as("declarative"))
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty && pairs.forall { case (n, d) => n == d },
      pairs.mkString(","))
  }

  test("ivfAdcTopK with nprobe = nlist equals exhaustive int8 MIPS ranking") {
    val out = Similarity.ivfAdcTopK(vecs, "vec_id", "embedding",
        k = 2, nlist = 2, nprobe = 2, dim = 3)
      .as[(Long, Long, Int, Long)].collect()
      .map { case (q, nb, r, _) => (q, r) -> nb }.toMap
    // expected: quantize in Scala, rank all pairs by idot * nb_scale
    val codes = Quantize.int8(vecs, "vec_id", "embedding")
      .as[(Long, Double, Seq[Int])].collect()
    val expect = (for {
      (qi, _, qq) <- codes
      (ni, ns, nq) <- codes if ni != qi
      idot = qq.zip(nq).map { case (a, b) => a.toLong * b }.sum
    } yield (qi, ni, idot.toDouble * ns))
      .groupBy(_._1).toSeq.flatMap { case (qi, rows) =>
        rows.sortBy { case (_, ni, key) => (-key, ni) }.take(2)
          .zipWithIndex.map { case ((_, ni, _), i) => (qi, i + 1) -> ni }
      }.toMap
    assert(out == expect, s"$out vs $expect")
  }

  test("ivfAdc top-1 neighbors track exact float top-1 on the real corpus") {
    // the premise of shipping 64-byte codes instead of float vectors:
    // int8 MIPS geometry preserves neighborhoods. Exact-rank parity is
    // NOT expected (dot vs cosine + quantization); agreement is the gate.
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = corpus.count()
    val (nlist, _) = Similarity.ivfParams(n)
    val adc = Similarity.ivfAdcTopK(corpus, "vec_id", "embedding",
        k = 1, nlist = nlist, nprobe = nlist, dim = 64)
      .select("q_id", "nb_id").as[(Long, Long)].collect().toMap
    // float MIPS baseline: same objective at full precision
    val exact = Similarity.bruteForceTopK(corpus, corpus,
        "vec_id", "embedding", 3)
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)].collect()
    val top1 = exact.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    val top3 = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // int8-MIPS top-1 lands in the float-cosine top-3 for nearly all
    // queries (dot vs cosine reorders near-equal-norm corpora slightly)
    val agree = adc.count { case (q, nb) => top3(q).contains(nb) }
    val frac = agree.toDouble / adc.size
    info(f"adc top-1 within float top-3: $frac%.4f")
    // measured 1.00 at sf0.01 (unit-norm corpus; top1==top1 is 0.986)
    assert(frac >= 0.95, f"agreement $frac%.4f")
    assert(adc.size == top1.size)
  }

  test("ivfTopK with nprobe = nlist equals brute force exactly") {
    val eight = Seq.tabulate(8)(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(eight, eight,
        "vec_id", "embedding", 3)
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopK(eight, "vec_id", "embedding", k = 3,
        nlist = 4, nprobe = 4, dim = 4)
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("recallAudit: nprobe = nlist reads recall 1.0 for every query; fewer probes never exceed it") {
    val eight = Seq.tabulate(8)(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = eight.filter(col("vec_id") % 2 === 0)
    val cents = Similarity.trainCoarseQuantizer(
      Similarity.trainingSample(eight, "vec_id", "embedding", 8),
      "embedding", nlist = 4, dim = 4)
    val full = Similarity.recallAudit(eight, queries, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 4, dim = 4, cents = cents)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // probing every cell IS brute force: the audit must read perfect
    assert(full.length == 4 && full.forall { case (_, h, r) =>
      h == 3L && r == 1.0 }, full.toSeq)
    val partial = Similarity.recallAudit(eight, queries, "vec_id",
        "embedding", k = 3, nlist = 4, nprobe = 1, dim = 4, cents = cents)
      .as[(Long, Long, Double)].collect()
    assert(partial.length == 4 && partial.forall { case (_, h, r) =>
      h >= 0L && h <= 3L && r == h / 3.0 }, partial.toSeq)
  }

  test("epochShuffle: a replayable permutation — contiguous per-shard offsets, partition-layout-independent, re-keyed by seed") {
    val docs = Seq.tabulate(40)(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
    val out = Curation.epochShuffle(docs, "doc_id", nShards = 4, seed = "e0")
      .as[(Long, Long, Long)].collect()
    // every doc exactly once, shards in range
    assert(out.length == 40 && out.map(_._1).distinct.length == 40)
    assert(out.forall { case (_, s, _) => s >= 0 && s < 4 })
    // offsets within a shard are exactly 0..n-1 (a reader can stream
    // each shard by offset with no gaps)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // pure function of (seed, doc_id): immune to partition layout
    val re = Curation.epochShuffle(docs.repartition(7), "doc_id",
      nShards = 4, seed = "e0").as[(Long, Long, Long)].collect()
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // a new seed is a new permutation (40 docs: collision odds ~0)
    val e1 = Curation.epochShuffle(docs, "doc_id", nShards = 4, seed = "e1")
      .as[(Long, Long, Long)].collect()
    assert(e1.sortBy(_._1).toSeq != out.sortBy(_._1).toSeq)
  }

  test("ivfTopK with nprobe < nlist returns a subset of valid neighbors") {
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding", k = 2,
        nlist = 2, nprobe = 1, dim = 3)
      .as[(Long, Long, Int, Double)].collect()
    assert(out.forall { case (q, nb, _, _) => q != nb })
    val ranks = out.groupBy(_._1).values
    assert(ranks.forall(rs => rs.map(_._3).sorted.toSeq == (1 to rs.size)))
  }

  // 24 deterministic pseudo-random 8-dim vectors + 6 planted near-dups
  // (small perturbations of the first 6 — cosine >= ~0.99)
  private def bigCorpus = {
    val base = Seq.tabulate(24)(i => (i.toLong, Array.tabulate(8)(d =>
      (((i * 2654435761L + d * 40503L) % 1000L) / 1000.0 - 0.5).toFloat)))
    val dups = Seq.tabulate(6)(i => (100L + i,
      base(i)._2.zipWithIndex.map { case (v, d) =>
        v + (((i + d) % 3) - 1) * 0.01f }))
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("lshNearDupPairs recalls every exact pair, with exact cosines") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b, math.rint(c * 1e9) / 1e9) }.toSet
    val exact = norm(Similarity.nearDupPairs(bigCorpus, "vec_id",
      "embedding", 0.9))
    val lsh = norm(Similarity.lshNearDupPairs(bigCorpus, "vec_id",
      "embedding", 0.9, planes = 4, tables = 8, dim = 8))
    assert(exact.size >= 6, s"fixture lost its planted pairs: $exact")
    // precision is exact by construction (every candidate is verified);
    // equality proves 100% recall on the fixture
    assert(lsh == exact)
  }

  test("lshParams derives (planes, tables) meeting the recall law, maximal selectivity") {
    for (tau <- Seq(0.5, 0.8, 0.9); target <- Seq(0.9, 0.97)) {
      val maxT = 32
      val (p, t) = Similarity.lshParams(tau, target, maxTables = maxT)
      assert(t <= maxT, s"tau=$tau target=$target -> ($p, $t)")
      // the recall law holds at the threshold...
      assert(Similarity.lshRecall(tau, p, t) >= target,
        s"tau=$tau target=$target -> ($p, $t)")
      // ...tables is minimal for this plane count...
      if (t > 1) assert(Similarity.lshRecall(tau, p, t - 1) < target,
        s"tables not minimal: tau=$tau -> ($p, $t)")
      // ...and planes is maximal under the table budget (one more plane
      // cannot reach the target even with every table allowed)
      assert(Similarity.lshRecall(tau, p + 1, maxT) < target,
        s"planes not maximal: tau=$tau -> ($p, $t)")
    }
    // pins the oracle-gated q34b/q34c call site: derived, not hand-picked
    assert(Similarity.lshParams(0.5, 0.97, maxTables = 16) == (4, 16))
  }

  // 40 deterministic 32-dim vectors + 8 pairs PLANTED AT cosine ≈ 0.55 —
  // just above the τ=0.5 threshold, the hardest recall point (the q34b
  // regime). v = c·u + √(1−c²)·w⊥ with w⊥ ⊥ u gives cos(u, v) = c.
  private def nearThresholdCorpus = {
    def raw(seed: Long) = Array.tabulate(32)(d =>
      (((seed * 6364136223846793005L + d * 1442695040888963407L) >>> 33)
        % 2000L) / 1000.0 - 1.0)
    def scale(v: Array[Double], s: Double) = v.map(_ * s)
    def normed(v: Array[Double]) =
      scale(v, 1.0 / math.sqrt(v.map(x => x * x).sum))
    val c = 0.55
    val base = Seq.tabulate(40)(i => (i.toLong, normed(raw(i + 1))))
    val planted = Seq.tabulate(8) { i =>
      val u = base(i)._2
      val w = normed(raw(1000L + i))
      val uw = u.zip(w).map { case (a, b) => a * b }.sum
      val orth = normed(w.zip(u).map { case (b, a) => b - uw * a })
      (200L + i, u.zip(orth).map { case (a, b) =>
        c * a + math.sqrt(1 - c * c) * b })
    }
    (base ++ planted).map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
  }

  test("near-threshold pairs: both LSH strategies equal the exact baseline " +
      "at derived parameters") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b, math.rint(c * 1e9) / 1e9) }.toSet
    val exact = norm(Similarity.nearDupPairs(nearThresholdCorpus, "vec_id",
      "embedding", 0.5))
    // the total-recall premise is exercised by MANY pairs sitting just
    // above the threshold, not one lucky survivor
    assert(exact.size >= 8, s"fixture lost its planted pairs: $exact")
    val (p, t) = Similarity.lshParams(0.5, targetRecall = 0.995,
      maxTables = 64)
    for (carry <- Seq(true, false)) {
      val lsh = norm(Similarity.lshNearDupPairs(nearThresholdCorpus,
        "vec_id", "embedding", 0.5, planes = p, tables = t, dim = 32,
        carryVectors = Some(carry)))
      assert(lsh == exact, s"carryVectors=$carry: $lsh != $exact")
    }
  }

  test("sign_buckets equals the declarative per-table bucketOf") {
    import org.apache.spark.sql.functions.{array, shiftleft}
    val hps = Array.tabulate(3)(t =>
      Similarity.hyperplanes(4, 8, seed = s"parity$t"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet
    val native = rows(bigCorpus.select(col("vec_id"),
      graft.functions.SignBuckets(col("embedding"), hps).as("bs")))
    val declarative = rows(bigCorpus.select(col("vec_id"),
      array((0 until 3).map(t => shiftleft(lit(t.toLong), 48) +
        Similarity.bucketOf(col("embedding"), hps(t))): _*).as("bs")))
    assert(native == declarative)
  }

  test("trainingSample is bounded and partition-layout independent") {
    val s1 = Similarity.trainingSample(bigCorpus, "vec_id", "embedding", 10)
      .as[Array[Float]].collect().map(_.toSeq).toSet
    val s2 = Similarity.trainingSample(bigCorpus.repartition(7), "vec_id",
        "embedding", 10)
      .as[Array[Float]].collect().map(_.toSeq).toSet
    assert(s1.size == 10 && s1 == s2)
  }

  test("ivfTopK recall@3 vs brute force on the real sf0.01 corpus, ivfParams-derived") {
    val d = "/root/testdata/sf0.01"
    val corpus = Tables.embeddings(spark, d)
    val target = 0.8 // q35c's setting
    val (nlist, nprobe) = Similarity.ivfParams(corpus.count(), target)
    val brute = Similarity.bruteForceTopK(corpus, corpus,
        "vec_id", "embedding", 3)
      .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
        k = 3, nlist = nlist, nprobe = nprobe, dim = 64,
        cents = Similarity.trainCoarseQuantizer(
          Similarity.trainingSample(corpus, "vec_id", "embedding",
            math.max(nlist * 64, 4096)),
          "embedding", nlist = nlist, dim = 64))
      .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(f"IVF recall@3 at derived nprobe=$nprobe/$nlist: $recall%.3f")
    // deterministic (md5-seeded init, hash-sampled training): a recall
    // drop below the target means the index, not the weather, regressed.
    // The real corpus is hash-random — the clusterless worst case the
    // ivfProbeFracs floors were calibrated on (measured 0.833 here).
    assert(recall >= target, f"recall $recall%.3f < target $target")
  }

  test("ivfParams: occupancy-constant nlist, exact-fraction nprobe, monotone in recall") {
    // nlist tracks n at constant occupancy — the measured linear-runtime
    // recipe (GrowthBench: e=2.06 with nlist fixed, 1.00 with nlist ∝ n)
    for (n <- Seq(100L, 1000L, 100000L, 10000000L)) {
      val (nlist, nprobe) = Similarity.ivfParams(n, targetRecall = 0.8)
      assert(nlist == ((n + 31) / 32).toInt, s"n=$n nlist=$nlist")
      assert(nprobe >= 1 && nprobe <= nlist)
      // nprobe = ceil(frac * nlist) with frac = 1/2 at target 0.8, and
      // the SQL twin ceil((4 * nlist) / 8.0) is the identical integer —
      // the arithmetic the q35c DuckDB oracle repeats from count(*)
      assert(nprobe == math.ceil(4.0 * nlist / 8.0).toInt, s"n=$n")
    }
    // tiny corpora degenerate to probe-all (exact) rather than under-1
    assert(Similarity.ivfParams(1L, 0.8) == ((1, 1)))
    // monotone: a higher recall target never probes fewer cells
    val probes = Seq(0.5, 0.6, 0.75, 0.85, 0.92, 0.99, 1.0)
      .map(r => Similarity.ivfParams(100000L, r)._2)
    assert(probes == probes.sorted, probes.toString)
    // targetRecall = 1.0 probes every cell — the exact-equality regime
    val (nl, np) = Similarity.ivfParams(100000L, 1.0)
    assert(np == nl)
  }

  test("signAnnParams: occupancy-constant plane count, integer ceil-log2") {
    assert(Similarity.signAnnParams(1L) == 1)
    assert(Similarity.signAnnParams(32L) == 1)   // one target bucket
    assert(Similarity.signAnnParams(500L) == 4)  // the sf0.01 gate's count
    assert(Similarity.signAnnParams(2000L) == 6) // sf0.1
    // occupancy law below the clamp: the smallest power of two covering
    // ceil(n/32) buckets
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 1000000L)) {
      val p = Similarity.signAnnParams(n, maxPlanes = 40)
      val tb = (n + 31) / 32
      assert((1L << p) >= tb && (p == 1 || (1L << (p - 1)) < tb),
        s"n=$n p=$p tb=$tb")
    }
    // the clamp bounds the per-row projection cost (and the oracle's
    // pre-embedded literal planes)
    assert(Similarity.signAnnParams(100000000L) == 12)
  }

  test("ivfParams-derived IVF meets its recall floor across a 16x scale-up") {
    // synthetic clusterless corpora (the adversarial data model the
    // ivfProbeFracs floors are calibrated for) at two scales: the floors
    // must hold as n grows 16x with nlist tracking n — the property that
    // makes the derived parameters trustworthy at corpus sizes the spec
    // cannot run (measured here: 0.90-1.00, floors 0.55-0.90)
    val dim = 16
    for (n <- Seq(512, 8192)) {
      // md5-seeded pseudorandom elements — same statistics as the real
      // testdata's hash-derived embeddings (see the clustered-premise
      // test below for why a cheaper LCG formula would be too easy)
      val corpus = Seq.tabulate(n)(i => (i.toLong, Array.tabulate(dim)(d =>
        Portable.unitFromSeed(s"sc_${i}_$d").toFloat)))
        .toDF("vec_id", "embedding")
        .repartition(4).cache()
      val brute = Similarity.bruteForceTopK(corpus, corpus,
          "vec_id", "embedding", 3)
        .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
      for (target <- Seq(0.55, 0.9)) {
        val (nlist, nprobe) = Similarity.ivfParams(n, target)
        val cents = Similarity.trainCoarseQuantizer(
          Similarity.trainingSample(corpus, "vec_id", "embedding",
            math.max(nlist * 64, 4096)), "embedding", nlist, dim = dim)
        val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
            k = 3, nlist = nlist, nprobe = nprobe, dim = dim, cents = cents)
          .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
        val recall = (brute & ivf).size.toDouble / brute.size
        info(f"n=$n target=$target nprobe=$nprobe/$nlist recall=$recall%.4f")
        assert(recall >= target, f"n=$n recall $recall%.4f < $target")
      }
      corpus.unpersist()
    }
  }

  test("clustered corpora over-deliver at the same probe fraction — the fixed-nprobe linear regime's premise") {
    // ivfProbeFracs is calibrated on the CLUSTERLESS worst case; real
    // embedding corpora are clustered, and there a small FIXED nprobe
    // (the runtime-linear regime, measured e=1.00 in GrowthBench) keeps
    // recall high because neighbors share cells. Measure both corpora at
    // the same tiny probe fraction to pin the premise.
    val dim = 16; val n = 2048; val nClusters = 32
    // md5-seeded elements: genuinely pseudorandom per (tag, i, d) — a
    // linear-congruential formula here is secretly low-dimensional and
    // makes even the "clusterless" corpus trivially indexable
    def seeded(tag: String, i: Int, d: Int): Float =
      Portable.unitFromSeed(s"${tag}_${i}_$d").toFloat
    val clusterless = Seq.tabulate(n)(i => (i.toLong,
      Array.tabulate(dim)(d => seeded("flat", i, d))))
    val clustered = Seq.tabulate(n) { i =>
      val c = i % nClusters
      (i.toLong, Array.tabulate(dim)(d =>
        seeded("ctr", c, d) + 0.05f * seeded("noise", i, d)))
    }
    def recallAt(rows: Seq[(Long, Array[Float])], nprobe: Int): Double = {
      val df = rows.toDF("vec_id", "embedding").repartition(4).cache()
      val (nlist, _) = Similarity.ivfParams(n, targetRecall = 0.8)
      val cents = Similarity.trainCoarseQuantizer(
        Similarity.trainingSample(df, "vec_id", "embedding",
          math.max(nlist * 64, 4096)), "embedding", nlist, dim = dim)
      val brute = Similarity.bruteForceTopK(df, df, "vec_id", "embedding", 3)
        .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
      val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", k = 3,
          nlist = nlist, nprobe = nprobe, dim = dim, cents = cents)
        .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
      df.unpersist()
      (brute & ivf).size.toDouble / brute.size
    }
    // nlist = 64 at n=2048; nprobe = 4 probes 1/16 of the corpus
    val flat = recallAt(clusterless, 4)
    val clus = recallAt(clustered, 4)
    info(f"recall@3 at nprobe=4/64: clusterless $flat%.3f clustered $clus%.3f")
    assert(clus >= 0.9, f"clustered recall $clus%.3f")
    assert(clus > flat, f"clustered $clus%.3f should beat clusterless $flat%.3f")
  }

  test("int8 quantization: exact codes, half-step error bound, zero-vector safe") {
    val rows = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: no NaN poison
      (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    // exact representable fractions: 1.0 -> 127, -0.5 -> round(-63.5) =
    // -64 (half away from zero), 0.25 -> round(31.75) = 32
    val q1 = Quantize.int8(rows, "vec_id", "embedding")
      .filter(col("id") === 1L).select("q").as[Seq[Int]].collect()(0)
    assert(q1 == Seq(127, -64, 32, 0), q1)
    val audit = Quantize.int8Audit(rows, "vec_id", "embedding")
      .as[(Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(audit(1L)._2 == 1.0 && audit(1L)._3 == 95L, audit(1L)) // 127-64+32
    assert(audit(2L)._2 == 0.0 && audit(2L)._3 == 0L &&
      audit(2L)._4 == 0.0, audit(2L))
    // worst-case reconstruction error <= half a quantization step
    assert(audit(1L)._4 <= 1.0 / 254 + 1e-12, audit(1L))
    assert(audit(3L)._2 == 2.0 && audit(3L)._4 <= 2.0 / 254 + 1e-12)
    // the bound holds for EVERY vector of the real corpus
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val bad = Quantize.int8Audit(corpus, "vec_id", "embedding")
      .filter(col("max_err") > col("scale") / 254 + 1e-9).count()
    assert(bad == 0L, s"$bad vectors exceed the half-step bound")
  }

  test("whiten standardizes every live dimension and zeroes dead ones") {
    // dim 0: values 1,3,5 -> mean 3, sample std 2 -> exactly (-1, 0, 1);
    // dim 1: constant (dead, std = 0) -> pinned 0.0, never a div-by-zero;
    // dim 2: same shape as dim 0
    val rows = Seq(
      (1L, Array(1.0f, 5.0f, 2.0f)),
      (2L, Array(3.0f, 5.0f, 4.0f)),
      (3L, Array(5.0f, 5.0f, 6.0f))
    ).toDF("vec_id", "embedding")
    val w = Quantize.whiten(rows, "vec_id", "embedding")
      .as[(Long, Seq[Double])].collect().toMap
    assert(w(1L) == Seq(-1.0, 0.0, -1.0), w(1L))
    assert(w(2L) == Seq(0.0, 0.0, 0.0), w(2L))
    assert(w(3L) == Seq(1.0, 0.0, 1.0), w(3L))
  }

  test("int8 quantization: a non-finite element cannot fail the scan") {
    // NaN poisons max-abs (Spark orders NaN above every double) and +Inf
    // survives it; both must route to the all-zero-code branch instead
    // of round(NaN).cast(int) throwing under ANSI mode mid-scan. The
    // non-finite scale rides along as the per-row error flag.
    val rows = Seq(
      (1L, Array(0.5f, Float.NaN, 0.25f, 0.0f)),
      (2L, Array(Float.PositiveInfinity, 1.0f, 0.0f, 0.0f)),
      (3L, Array(Float.NegativeInfinity, -1.0f, 0.0f, 0.0f)),
      (4L, Array(1.0f, -0.5f, 0.25f, 0.0f)) // healthy row unaffected
    ).toDF("vec_id", "embedding")
    val out = Quantize.int8(rows, "vec_id", "embedding")
      .select(col("id"), col("scale"), col("q")).as[(Long, Double, Seq[Int])]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2.isNaN && out(1L)._3 == Seq(0, 0, 0, 0), out(1L))
    assert(out(2L)._2.isPosInfinity && out(2L)._3 == Seq(0, 0, 0, 0))
    assert(out(3L)._2.isPosInfinity && out(3L)._3 == Seq(0, 0, 0, 0))
    assert(out(4L)._2 == 1.0 && out(4L)._3 == Seq(127, -64, 32, 0))
    // the audit path shares the guard: it must complete, flagging the
    // poisoned rows via non-finite scale/max_err rather than throwing
    val audit = Quantize.int8Audit(rows, "vec_id", "embedding")
      .as[(Long, Double, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(audit(1L)._3 == 0L && !java.lang.Double.isFinite(audit(1L)._2))
    assert(audit(4L)._3 == 95L && audit(4L)._4 <= 1.0 / 254 + 1e-12)
  }

  test("dequantized top-1 neighbors agree with exact top-1 on the real corpus") {
    // the 100 TB composition: candidate-generate over int8, re-rank the
    // survivors at full precision. The premise is that quantized
    // geometry preserves neighborhoods — measure top-1 agreement.
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val deq = Quantize.int8(corpus, "vec_id", "embedding")
      .select(col("id").as("vec_id"),
        transform(Quantize.dequantize(col("q"), col("scale")),
          _.cast("float")).as("embedding"))
    def top1(df: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(df, df, "vec_id", "embedding", 1)
        .select("q_id", "nb_id").as[(Long, Long)].collect().toMap
    val exact = top1(corpus)
    val quant = top1(deq)
    val agree = exact.count { case (q, nb) => quant.get(q).contains(nb) }
    val frac = agree.toDouble / exact.size
    info(f"top-1 agreement after int8 round-trip: $frac%.4f")
    assert(frac >= 0.9, f"agreement $frac%.4f")
  }

  test("ragged centroid matrix fails loudly, not silently misaligned") {
    val ragged = Array(Array(1.0, 0.0, 0.0), Array(1.0))
    val ex = intercept[Throwable] {
      graft.functions.NearestCellsBc.quantizerOf(ragged)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m => m != null && m.contains("ragged")))
  }

  test("hyperplanes are deterministic across calls") {
    assert(Similarity.hyperplanes(2, 4).map(_.toSeq).toSeq ==
      Similarity.hyperplanes(2, 4).map(_.toSeq).toSeq)
    assert(Portable.unitFromSeed("x") == Portable.unitFromSeed("x"))
  }

  test("screenCandidates: filters by doc predicate AND verified pairs, re-ranks survivors densely, drops emptied queries") {
    import org.apache.spark.sql.functions.col
    // leg: q1 has ranks 1..4, q2 has 1..2
    val leg = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4),
      (2L, 10L, 1), (2L, 12L, 2)).toDF("q_id", "doc_id", "rank")
    val allowed = Seq(10L, 12L, 13L).toDF("id") // doc 11 fails the predicate
    // q1 phrase-verifies docs 12, 13 (and 11, which the predicate kills);
    // q2 verifies nothing -> q2 disappears entirely
    val verified = Seq((1L, 11L), (1L, 12L), (1L, 13L)).toDF("q", "d")
    val out = graft.pipeline.Similarity.screenCandidates(leg, "q_id",
        "doc_id", "rank", allowed, "id", verified, "q", "d")
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    // survivors 12 (orig rank 3) and 13 (orig 4) re-rank densely 1, 2
    assert(out == Seq((1L, 12L, 1), (1L, 13L, 2)), out)
  }

  // The single persisted IVF-ADC tier at its unsharded point
  // (nShards = 1): the lifecycle specs below pin build, append, delete,
  // compaction, retrain and the generation protocol on that layout.

  test("appendIvfAdcIndexSharded: build+append equals writing the whole corpus against the same frozen quantizer") {
    // the qc3 contract, minus the drift question: appending against the
    // STORED centroids must leave the index row-identical to coding the
    // union in one shot with those centroids, and the probe identical —
    // any difference means the append re-derived state instead of
    // freezing it
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = corpus.count()
    val build = corpus.filter(col("vec_id") * 2 < n)
    val batch = corpus.filter(col("vec_id") * 2 >= n)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    try {
      val cents = Similarity.writeIvfAdcIndexSharded(build, "vec_id",
        "embedding", "adc_app_idx")
      Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
        "adc_app_idx")
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_full_idx", cents = cents)
      assert(AdcKit.storedRows("adc_app_idx").nonEmpty &&
        AdcKit.storedRows("adc_app_idx") ==
          AdcKit.storedRows("adc_full_idx"))
      assert(AdcKit.probe(queries, "adc_app_idx") ==
        AdcKit.probe(queries, "adc_full_idx"))
      // appending to a missing index fails loudly
      intercept[Exception] {
        Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
          "adc_missing_idx")
      }
    } finally AdcKit.drop("adc_app_idx", "adc_full_idx")
  }

  test("appendIvfAdcIndex atomicity: a writer killed before the commit leaves probes on the exact pre-append state") {
    // the r13 generation protocol on the dense tier: uncommitted rows
    // (a crashed append, or a partially-committed write job) must be
    // invisible; the retry commits under a fresh generation without
    // double-counting; compaction physically reclaims the orphan
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = corpus.count()
    val build = corpus.filter(col("vec_id") * 2 < n)
    val batch = corpus.filter(col("vec_id") * 2 >= n)
    val queries = corpus.filter(col("vec_id") % 100 === 1)
    def probe() = AdcKit.probe(queries, "adc_atom_idx")
    try {
      val cents = Similarity.writeIvfAdcIndexSharded(build, "vec_id",
        "embedding", "adc_atom_idx")
      val pre = probe()
      val orphanGen = 777L
      Similarity.svAppendRowsOnly(batch, "vec_id", "embedding",
        Similarity.svState(spark, "adc_atom_idx"), orphanGen)
      assert(spark.table("adc_atom_idx_sv")
        .filter(col("gen") === orphanGen).count() > 0)
      assert(probe() == pre, "uncommitted append leaked into the probe")
      // retry: the full append under a fresh generation
      Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
        "adc_atom_idx")
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_atom_ref", cents = cents)
      val ref = AdcKit.probe(queries, "adc_atom_ref")
      assert(probe() == ref, "retried append diverged from rebuild")
      Similarity.compactIvfAdcIndexSharded(spark, "adc_atom_idx")
      assert(spark.table("adc_atom_idx_sv")
        .filter(col("gen") === orphanGen).count() == 0,
        "compaction should reclaim the orphan generation")
      assert(probe() == ref)
    } finally AdcKit.drop("adc_atom_idx", "adc_atom_ref")
  }

  test("deleteIvfVecsSharded + compactIvfAdcIndexSharded: tombstoned probe == compacted probe == frozen-quantizer index over survivors") {
    // the qd4 contract: logical deletion (tombstone anti-join) and
    // physical deletion (compaction) must both equal an index coded
    // over the surviving vectors against the SAME frozen quantizer;
    // replayed deletes are idempotent; compaction drops the tombstone
    // table and the dead rows
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val survivors = corpus.filter(col("vec_id") % 5 =!= 0)
    val queries = survivors.filter(col("vec_id") % 100 === 1)
    def probe(t: String) = AdcKit.probe(queries, t)
    try {
      val cents = Similarity.writeIvfAdcIndexSharded(corpus, "vec_id",
        "embedding", "adc_del_idx")
      Similarity.deleteIvfVecsSharded(spark, "adc_del_idx",
        corpus.filter(col("vec_id") % 5 === 0).select("vec_id"), "vec_id")
      // reference: the survivors coded one-shot with the same quantizer
      Similarity.writeIvfAdcIndexSharded(survivors, "vec_id", "embedding",
        "adc_del_ref", cents = cents)
      val ref = probe("adc_del_ref")
      val tomb = probe("adc_del_idx")
      assert(ref.nonEmpty && tomb == ref, s"tomb=$tomb ref=$ref")
      // replayed / partially-absent delete: no change
      Similarity.deleteIvfVecsSharded(spark, "adc_del_idx",
        Seq(0L, 5L, 999999L).toDF("vec_id"), "vec_id")
      assert(probe("adc_del_idx") == ref)
      Similarity.compactIvfAdcIndexSharded(spark, "adc_del_idx")
      assert(!spark.catalog.tableExists("adc_del_idx_sv_t"))
      assert(spark.table("adc_del_idx_sv")
        .filter(col("id") % 5 === 0).count() == 0,
        "compaction left dead rows")
      // compacted rows are EXACTLY the one-shot survivor index's
      assert(AdcKit.storedRows("adc_del_idx") ==
        AdcKit.storedRows("adc_del_ref"))
      assert(probe("adc_del_idx") == ref)
    } finally AdcKit.drop("adc_del_idx", "adc_del_ref")
  }

  test("retrainIvfAdcIndexSharded: retrain == one-shot build over the live corpus, consuming tombstones and resetting generations") {
    // the qe3 contract plus the deletion face: a drifted
    // build+append+delete index retrains into EXACTLY the live state a
    // fresh build over the survivors would produce — codes, centroids,
    // generation set, and probe — the tombstones retire with the epoch
    // flip, and the next compaction physically reclaims the retired
    // epoch's rows down to the fresh build's
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = corpus.count()
    val build = corpus.filter(col("vec_id") * 2 < n)
    val survivors = corpus.filter(col("vec_id") % 7 =!= 0)
    val queries = survivors.filter(col("vec_id") % 100 === 1)
    def probe(t: String) = AdcKit.probe(queries, t)
    // the PROBE-VISIBLE rows: what retrain must land exactly (the
    // retired epoch's dead rows stay physical until compaction)
    def liveRows(t: String) = AdcKit.liveRows(t)
      .select(col("cell"), col("id"), hex(col("qc")), col("scale"),
        col("gen"))
      .as[(Int, Long, String, Double, Long)].collect().sorted.toSeq
    def rawRows(t: String) = spark.table(t + "_sv")
      .select(col("cell"), col("id"), hex(col("qc")), col("scale"),
        col("gen"))
      .as[(Int, Long, String, Double, Long)].collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "adc_rt_idx")
      Similarity.appendIvfAdcIndexSharded(
        corpus.filter(col("vec_id") * 2 >= n), "vec_id", "embedding",
        "adc_rt_idx")
      Similarity.deleteIvfVecsSharded(spark, "adc_rt_idx",
        corpus.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
      Similarity.retrainIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_rt_idx")
      Similarity.writeIvfAdcIndexSharded(survivors, "vec_id", "embedding",
        "adc_rt_ref")
      assert(liveRows("adc_rt_idx").nonEmpty &&
        liveRows("adc_rt_idx") == liveRows("adc_rt_ref"))
      def cents(t: String) = spark.table(t + "_sv_c")
        .filter(col("epoch") === AdcKit.epoch(t)).orderBy("cell")
        .select("cell", "cent")
        .as[(Int, Seq[Double])].collect().toSeq
      assert(cents("adc_rt_idx") == cents("adc_rt_ref"))
      // the tombstones retire with the epoch flip: none is active
      assert(spark.table("adc_rt_idx_sv_t")
        .filter(col("epoch") === AdcKit.epoch("adc_rt_idx")).count() == 0,
        "retrain should retire the tombstones")
      assert(spark.table("adc_rt_idx_sv_g").select("gen").as[Long]
        .collect().toSeq == Seq(0L),
        "retrain should reset the generation set")
      val ref = probe("adc_rt_ref")
      assert(ref.nonEmpty && probe("adc_rt_idx") == ref)
      // the next compaction physically reclaims the retired epoch:
      // raw stored rows collapse to exactly the fresh build's
      Similarity.compactIvfAdcIndexSharded(spark, "adc_rt_idx")
      assert(rawRows("adc_rt_idx") == rawRows("adc_rt_ref"),
        "compaction did not reclaim the retired epoch's rows")
      assert(!spark.catalog.tableExists("adc_rt_idx_sv_t"))
      assert(probe("adc_rt_idx") == ref)
    } finally AdcKit.drop("adc_rt_idx", "adc_rt_ref")
  }

  test("retrain atomicity: a writer killed between any two lands leaves probes bit-identical pre-state; the flip window heals to post-state") {
    // r16 verdict item 2: a multi-table retrain swap could leave the
    // index unhealable (rows packed against centroids that never
    // landed). Everything lands INERT under a fresh epoch and `_sv_g`'s
    // one swap is THE commit: every pre-commit crash state probes
    // bit-identical to the old index, the swap window itself heals on
    // next writer touch, and a retried retrain lands the fresh-build
    // state without adopting the orphan attempt.
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 400)
    val build = corpus.filter(col("vec_id") < 300)
    val queries = corpus.filter(col("vec_id") % 50 === 1)
    def probe() = AdcKit.probe(queries, "adc_cr_idx")
    try {
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "adc_cr_idx")
      Similarity.appendIvfAdcIndexSharded(
        corpus.filter(col("vec_id") >= 300), "vec_id", "embedding",
        "adc_cr_idx")
      val pre = probe()
      assert(pre.nonEmpty)
      // CRASH STATE A — killed after the centroid land: orphan epoch-1
      // centroids, nothing else. Probes stay on the old epoch.
      Seq((0, 0, Seq.fill(64)(9.9), 1L), (0, 1, Seq.fill(64)(-9.9), 1L))
        .toDF("shard", "cell", "cent", "epoch")
        .write.mode("append").bucketBy(1, "cell").sortBy("cell")
        .saveAsTable("adc_cr_idx_sv_c")
      assert(probe() == pre, "orphan centroids leaked into the probe")
      // CRASH STATE B — killed after the row land too: orphan epoch-1
      // rows (gen 0 of a NEVER-ACTIVATED epoch). Still invisible.
      spark.table("adc_cr_idx_sv").limit(50)
        .withColumn("epoch", lit(1L)).localCheckpoint()
        .write.mode("append")
        .bucketBy(Similarity.ivfIndexBuckets, "gcell").sortBy("gcell")
        .saveAsTable("adc_cr_idx_sv")
      spark.catalog.refreshTable("adc_cr_idx_sv")
      assert(probe() == pre, "orphan epoch rows leaked into the probe")
      // the RETRY: allocates PAST the orphan epoch (cannot adopt its
      // half-landed state) and lands the fresh-build probe state
      Similarity.retrainIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_cr_idx")
      assert(AdcKit.epoch("adc_cr_idx") == 2L,
        "retry adopted the crashed attempt's epoch")
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_cr_ref")
      val post = AdcKit.probe(queries, "adc_cr_ref")
      assert(probe() == post, "retried retrain diverged from fresh build")
      // CRASH STATE C — killed INSIDE the commit swap (`_sv_g` dropped,
      // shadow complete): the next writer touch heals to POST-state
      spark.sql("ALTER TABLE adc_cr_idx_sv_g RENAME TO " +
        "adc_cr_idx_sv_g_compact_shadow")
      Similarity.appendIvfAdcIndexSharded(corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", "adc_cr_idx")
      assert(spark.catalog.tableExists("adc_cr_idx_sv_g"),
        "the flip window did not heal on writer touch")
      assert(AdcKit.epoch("adc_cr_idx") == 2L)
      // CRASH STATE D — a compactor killed inside the centroid-GC swap
      // (`_sv_c` dropped, its shadow complete): heals on the next read
      Similarity.compactIvfAdcIndexSharded(spark, "adc_cr_idx")
      val compacted = probe()
      spark.sql("ALTER TABLE adc_cr_idx_sv_c RENAME TO " +
        "adc_cr_idx_sv_c_compact_shadow")
      assert(probe() == compacted &&
        spark.catalog.tableExists("adc_cr_idx_sv_c"),
        "the centroid-GC swap window did not heal on read")
    } finally AdcKit.drop("adc_cr_idx", "adc_cr_ref")
  }

  test("a fresh index build consumes leftover tombstones on all three tiers (a rebuild is never silently pre-deleted)") {
    // build -> delete -> REBUILD at the same name: the fresh index
    // serves the full corpus again. Before r17 a leftover _t table
    // survived the rebuild and silently deleted the fresh build's rows
    // at matching ids (the same class as the stale replay marks
    // dropHwms already cleared).
    import graft.pipeline.{Dedup, TextAnalysis}
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 200)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 100)
    try {
      // dense tier: live rows must cover the whole corpus post-rebuild
      val cents = Similarity.writeIvfAdcIndexSharded(vecs, "vec_id",
        "embedding", "reb_adc")
      Similarity.deleteIvfVecsSharded(spark, "reb_adc",
        vecs.filter(col("vec_id") % 3 === 0).select("vec_id"), "vec_id")
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "reb_adc", cents = cents)
      assert(!spark.catalog.tableExists("reb_adc_sv_t"),
        "ADC rebuild left the stale tombstone table")
      assert(AdcKit.liveRows("reb_adc").count() == vecs.count(),
        "ADC rebuild silently pre-deleted ids")
      // lexical tier
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "reb_bm")
      TextAnalysis.deleteBm25Docs(spark, "reb_bm",
        docs.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id")
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "reb_bm")
      assert(!spark.catalog.tableExists("reb_bm_t"),
        "BM25 rebuild left the stale tombstone table")
      // signature tier
      Dedup.writeMinhashIndex(docs, "doc_id", "text", "reb_mh", n = 3)
      Dedup.deleteMinhashDocs(spark, "reb_mh",
        docs.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id")
      Dedup.writeMinhashIndex(docs, "doc_id", "text", "reb_mh", n = 3)
      assert(!spark.catalog.tableExists("reb_mh_t"),
        "minhash rebuild left the stale tombstone table")
    } finally {
      AdcKit.drop("reb_adc")
      for (t <- Seq("reb_bm", "reb_mh"); sfx <- Seq("", "_s", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
    }
  }

  test("ADC generation protocol: two INTERLEAVED writers both land — rows first, commits in reverse order, probe sees the union") {
    // the single-maintenance-writer contract holds for compaction and
    // retrain (catalog swaps), but plain APPENDS are two-step
    // (rows, then a 1-row generation commit) and the committed-set
    // semantics make any interleaving of two appends safe: rows of
    // both land under distinct generations, each commit exposes only
    // its own generation, and the final state equals a one-shot build
    // regardless of commit order
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 300)
    val build = corpus.filter(col("vec_id") < 100)
    val a = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val b = corpus.filter(col("vec_id") >= 200)
    val queries = corpus.filter(col("vec_id") % 50 === 0)
    try {
      val cents = Similarity.writeIvfAdcIndexSharded(build, "vec_id",
        "embedding", "adc_ilv_idx")
      val (genA, genB) = (7001L, 7002L)
      // writer A rows, writer B rows, B commits, then A commits
      val stA = Similarity.svState(spark, "adc_ilv_idx")
      Similarity.svAppendRowsOnly(a, "vec_id", "embedding", stA, genA)
      val stB = Similarity.svState(spark, "adc_ilv_idx")
      Similarity.svAppendRowsOnly(b, "vec_id", "embedding", stB, genB)
      Similarity.svCommitGen(spark, stB, genB)
      Similarity.svCommitGen(spark, stA, genA)
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_ilv_ref", cents = cents)
      val ref = AdcKit.probe(queries, "adc_ilv_ref")
      assert(ref.nonEmpty && AdcKit.probe(queries, "adc_ilv_idx") == ref,
        "interleaved appends diverged from the one-shot build")
    } finally AdcKit.drop("adc_ilv_idx", "adc_ilv_ref")
  }

  test("tuneShardServing without vecs: recall-gated absolute nprobe meets the target with fewer probed cells than the fraction law on clustered vectors") {
    // clustered corpus, LOW INTRINSIC DIMENSION (cluster centers vary
    // in all 64 dims; within-cluster noise lives in the first 4) — the
    // real-embedding geometry where a FIXED nprobe covers the top-k
    // ball. The fraction law (ivfParams) is the clusterless worst-case
    // floor; here it over-probes, and the tuned dial must come in
    // under it while the measured recall still clears the gate.
    val n = 800
    val clusters = 16
    val vecs = spark.range(n).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      s"pmod(hash(pmod(id, $clusters), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float))").as("embedding"))
    val queries = vecs.filter(col("vec_id") % 40 === 0) // 20 queries
    val (nlist, fracNp) = Similarity.ivfParams(n.toLong)
    val groups = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val target = 0.8
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "adc_tune_idx")
      val Seq(dl) = Similarity.tuneShardServing(queries, "vec_id",
        "embedding", k = 3, "adc_tune_idx", targetRecall = target)
        .map(_.dials)
      val (np, recall) = (dl.nprobe, dl.probeRecall)
      assert(recall >= target, s"tuned recall $recall below $target")
      assert(np < fracNp,
        s"tuned nprobe $np not below the fraction law's $fracNp " +
          s"(nlist=$nlist) — no clustered-data win")
      // the reference is the quantizer CEILING: every cell probed
      // (targetRecall 1.0 puts the fraction law at nprobe = nlist)
      val ceiling = Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
        "embedding", k = 3, "adc_tune_idx", targetRecall = 1.0)
      // the flat probe at a hand nprobe: the two-level kernel at full
      // group coverage selects exactly the flat kernel's cells
      def auditAt(p: Int): Double = AdcKit.recall(
        Similarity.ivfAdcTopKIndexedShardedTuned(queries, "vec_id",
          "embedding", k = 3, "adc_tune_idx",
          Seq(Similarity.ShardDials(p, 0.0, groups, 0.0))),
        ceiling)
      // the returned recall is the independent audit's number at np —
      // the tuner reports measurements, not estimates (tolerance: the
      // mean's summation order differs)
      assert(math.abs(auditAt(np) - recall) < 1e-9,
        "tuneShardServing's recall disagrees with the audit at np")
      // minimality up to the binary search's invariant: the cell count
      // one below the returned dial measured UNDER the target
      if (np > 1)
        assert(auditAt(np - 1) < target,
          s"np-1=${np - 1} already meets the target — not minimal")
      // tuning against the ceiling dials pure probing loss: recall 1.0
      // is reachable by construction at nprobe = nlist
      assert(auditAt(nlist) == 1.0,
        "the exhaustive flat probe diverged from the quantizer ceiling")
    } finally AdcKit.drop("adc_tune_idx")
  }

  test("sharded ADC index: one shard equals the single table; append/delete/compact delegate per shard and lose nothing") {
    // r17 verdict item 3. Gates: (a) nShards=1 is bit-identical to the
    // live ADC tier over the same quantizer (the persisted index loses
    // nothing — q99 shares q89's oracle); (b) appends route by the shard law and become
    // visible; (c) deletes route and disappear; (d) compaction leaves
    // the probe bit-identical while collapsing generations per shard.
    // The N>1 fan-out/merge itself is oracle-gated (qg1).
    val vecs = spark.range(600).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 12), 19, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 31, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val first = vecs.filter(col("vec_id") < 400)
    val rest = vecs.filter(col("vec_id") >= 400)
    val queries = vecs.filter(col("vec_id") % 30 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      // (a) degenerate point: nShards = 1 == the live ADC tier at the
      // same quantizer, restricted to the query ids (per-query ranking
      // is independent of the query set)
      val Seq(cents) = Similarity.writeIvfAdcIndexSharded(vecs, "vec_id",
        "embedding", "shrd1_idx", nShards = 1, dim = 64)
      val (nlist, np) = Similarity.ivfParams(600L)
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
          "embedding", k = 3, "shrd1_idx")) ==
        rows(Similarity.ivfAdcTopK(vecs, "vec_id", "embedding", k = 3,
            nlist = nlist, nprobe = np, cents = cents)
          .filter(col("q_id") % 30 === 0)),
        "nShards=1 diverged from the live ADC tier")
      // (b) lifecycle at nShards = 3: build on the first 400, append
      // the rest — appended ids must be probe-visible in their shards
      Similarity.writeIvfAdcIndexSharded(first, "vec_id", "embedding",
        "shrd3_idx", nShards = 3, dim = 64)
      Similarity.appendIvfAdcIndexSharded(rest, "vec_id", "embedding",
        "shrd3_idx")
      val afterAppend = rows(Similarity.ivfAdcTopKIndexedSharded(
        queries, "vec_id", "embedding", k = 3, "shrd3_idx"))
      assert(afterAppend.exists(_._2 >= 400),
        "appended rows never surfaced as neighbors")
      // (c) routed deletes: every appended id tombstones in its own
      // shard and vanishes from the candidates
      Similarity.deleteIvfVecsSharded(spark, "shrd3_idx",
        rest.select(col("vec_id")), "vec_id")
      val afterDelete = rows(Similarity.ivfAdcTopKIndexedSharded(
        queries, "vec_id", "embedding", k = 3, "shrd3_idx"))
      assert(!afterDelete.exists(_._2 >= 400),
        "deleted rows still served as neighbors")
      // (d) compaction: physical removal + generation collapse per
      // shard, probe bit-identical
      Similarity.compactIvfAdcIndexSharded(spark, "shrd3_idx")
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
          "embedding", k = 3, "shrd3_idx")) == afterDelete,
        "compaction changed the sharded probe")
      // one-table layout: one generation left per shard, no deleted
      // row physically present in any shard's key range
      assert(spark.table("shrd3_idx_sv").select("shard", "gen")
          .distinct().count() == 3L,
        "shrd3_idx_sv not collapsed to one generation per shard")
      assert(spark.table("shrd3_idx_sv").filter(col("id") >= 400)
          .count() == 0L,
        "shrd3_idx_sv still physically holds deleted rows")
    } finally {
      AdcKit.drop("shrd1_idx", "shrd3_idx")
    }
  }

  test("sharded append atomicity: rows landed without the one-file commit stay invisible; the commit makes the whole batch visible; compaction reclaims orphans") {
    // The v2 commit protocol's two windows, killed between the steps
    // (the single-table tier's atomicity spec re-pointed at the
    // one-table layout): (a) svAppendRowsOnly without svCommitGen —
    // an append crashed before its commit — leaves the probe
    // BIT-UNCHANGED (the orphan generation's rows never join the
    // committed set); (b) the retry commits under a FRESH generation
    // and the probe then equals the one-shot append's; (c) compaction
    // physically reclaims the orphan rows.
    val vecs = spark.range(400).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 12), 19, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 31, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val build = vecs.filter(col("vec_id") < 300)
    val batch = vecs.filter(col("vec_id") >= 300)
    val queries = vecs.filter(col("vec_id") % 30 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "atm_idx", nShards = 2, dim = 64)
      val before = rows(Similarity.ivfAdcTopKIndexedSharded(queries,
        "vec_id", "embedding", k = 3, "atm_idx"))
      // (a) the crash window: rows land, no commit
      val st = Similarity.svState(spark, "atm_idx")
      Similarity.svAppendRowsOnly(batch, "vec_id", "embedding", st,
        gen = 424242L)
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries,
          "vec_id", "embedding", k = 3, "atm_idx")) == before,
        "uncommitted appended rows leaked into the probe")
      val orphanRows = spark.table("atm_idx_sv")
        .filter(col("gen") === 424242L).count()
      assert(orphanRows > 0L, "the crash-window fixture landed no rows")
      // (b) the retry: the REAL append, fresh generation — visible,
      // equal to the one-shot append on a twin index
      Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
        "atm_idx")
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "atm_ref", nShards = 2, dim = 64)
      Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
        "atm_ref")
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries,
          "vec_id", "embedding", k = 3, "atm_idx")) ==
        rows(Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
          "embedding", k = 3, "atm_ref")),
        "retried append diverged from the clean one-shot append")
      // (c) compaction reclaims the orphan generation physically
      Similarity.compactIvfAdcIndexSharded(spark, "atm_idx")
      assert(spark.table("atm_idx_sv")
          .filter(col("gen") === 424242L).count() == 0L,
        "compaction left the orphan generation's rows behind")
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries,
          "vec_id", "embedding", k = 3, "atm_idx")) ==
        rows(Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
          "embedding", k = 3, "atm_ref")),
        "compaction changed the probe while reclaiming orphans")
    } finally {
      for (t <- Seq("atm_idx_sv", "atm_ref_sv");
          sfx <- Seq("", "_c", "_g", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
      spark.sql("DROP TABLE IF EXISTS atm_idx_sh")
      spark.sql("DROP TABLE IF EXISTS atm_ref_sh")
    }
  }

  test("one shard's retrain leaves the one-table index MIXED-EPOCH and exact: equals a fresh build over the live corpus; compaction reclaims the retired epoch") {
    // The one-table layout's subtlest state (r20): after
    // retrainIvfAdcShard(0) the ONE data table holds shard 0's rows at
    // epoch 1 and shard 1's at epoch 0 — liveness, the combined
    // quantizer broadcast, packing and the probe all resolve PER-SHARD
    // epochs from one protocol read. Training is deterministic on the
    // same live rows (same sample, same Lloyd, same nlist derivation),
    // so the gate is sharp: probe-after-single-shard-retrain must be
    // BIT-EQUAL to a fresh writeIvfAdcIndexSharded over the live
    // corpus (the retrain consumed shard 0's tombstones; the fresh
    // build never saw the deleted ids). Compaction then reclaims the
    // retired epoch's rows physically without changing the probe.
    val vecs = spark.range(600).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 12), 19, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 31, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val queries = vecs.filter(col("vec_id") % 30 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "mxe_idx", nShards = 2, dim = 64)
      // delete a few shard-0 ids (even ids route to shard 0), then
      // retrain ONLY shard 0 — the retrain's survivor rule consumes
      // the tombstones; shard 1's quantizer and rows stay at epoch 0
      val dead = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"))
      Similarity.deleteIvfVecsSharded(spark, "mxe_idx", dead, "vec_id")
      Similarity.retrainIvfAdcShard(vecs, "vec_id", "embedding",
        "mxe_idx", shard = 0, dim = 64)
      // the mixed-epoch physical state is real: two distinct epochs
      // live in the one table, one per shard
      val eps = spark.table("mxe_idx_sv").select("shard", "epoch")
        .distinct().as[(Int, Long)].collect().toSet
      assert(eps.map(_._1) == Set(0, 1) && eps.size >= 3,
        s"expected mixed epochs across shards post-retrain, got $eps")
      val live = vecs.filter(col("vec_id") % 100 =!= 0)
      Similarity.writeIvfAdcIndexSharded(live, "vec_id", "embedding",
        "mxe_ref", nShards = 2, dim = 64)
      val probed = rows(Similarity.ivfAdcTopKIndexedSharded(queries,
        "vec_id", "embedding", k = 3, "mxe_idx"))
      assert(probed == rows(Similarity.ivfAdcTopKIndexedSharded(
        queries, "vec_id", "embedding", k = 3, "mxe_ref")),
        "mixed-epoch probe diverged from the fresh build over the " +
          "live corpus")
      assert(!probed.exists(_._2 % 100 == 0),
        "a tombstoned-then-retrained id survived as a neighbor")
      // compaction reclaims the retired epoch physically, probe
      // bit-unchanged; exactly one (shard, epoch) pair per shard left
      Similarity.compactIvfAdcIndexSharded(spark, "mxe_idx")
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries,
          "vec_id", "embedding", k = 3, "mxe_idx")) == probed,
        "compaction changed the mixed-epoch probe")
      assert(spark.table("mxe_idx_sv").select("shard", "epoch")
          .distinct().count() == 2L,
        "compaction left retired-epoch rows behind")
      assert(spark.table("mxe_idx_sv_c").select("shard", "epoch")
          .distinct().count() == 2L,
        "compaction left retired-epoch centroids behind")
      // the reserved-name guard refuses grammar-colliding build names
      intercept[IllegalArgumentException] {
        Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
          "mxe_r2", nShards = 2, dim = 64)
      }
      intercept[IllegalArgumentException] {
        Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
          "mxe_sv", nShards = 2, dim = 64)
      }
    } finally {
      for (t <- Seq("mxe_idx_sv", "mxe_ref_sv");
          sfx <- Seq("", "_c", "_g", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
      spark.sql("DROP TABLE IF EXISTS mxe_idx_sh")
      spark.sql("DROP TABLE IF EXISTS mxe_ref_sh")
    }
  }

  test("reshard: S->S' equals a fresh sharded build over the survivors down to stored rows, committed by one sidecar swap") {
    // r18 verdict item 4: the growth event the sharded tier exists for
    // had no operation. Gates: (a) reshard(2->3) over a corpus with
    // live tombstones produces PER-SHARD stored rows bit-equal to a
    // fresh writeIvfAdcIndexSharded(3) over the survivors (same
    // quantizer training by construction); (b) the probe — qg1's gate
    // shape — is bit-equal to the fresh build's; (c) the old layout's
    // tables are gone and the sidecar names the new generation, so
    // every lifecycle op resolves the new layout; (d) deleted ids do
    // not survive the reshard.
    val vecs = spark.range(600).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 12), 19, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 31, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val queries = vecs.filter(col("vec_id") % 30 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    def stored(t: String) = spark.table(t)
      .select(col("shard"), col("cell"), col("id"), hex(col("qc")),
        col("scale"), col("gen"), col("epoch"))
      .as[(Int, Int, Long, String, Double, Long, Long)]
      .collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "rsh_idx", nShards = 2, dim = 64)
      Similarity.deleteIvfVecsSharded(spark, "rsh_idx",
        vecs.filter(col("vec_id") % 10 === 7).select(col("vec_id")),
        "vec_id")
      Similarity.reshardIvfAdcIndex(vecs, "vec_id", "embedding",
        "rsh_idx", newShards = 3, dim = 64)
      // (a) the fresh-build reference over the survivors
      val survivors = vecs.filter(col("vec_id") % 10 =!= 7)
      Similarity.writeIvfAdcIndexSharded(survivors, "vec_id",
        "embedding", "rsh_ref", nShards = 3, dim = 64)
      assert(stored("rsh_idx_r1_sv") == stored("rsh_ref_sv"),
        "resharded stored rows diverged from the fresh build")
      // (b) probe bit-equal; (d) tombstoned ids gone
      val probed = rows(Similarity.ivfAdcTopKIndexedSharded(queries,
        "vec_id", "embedding", k = 3, "rsh_idx"))
      assert(probed == rows(Similarity.ivfAdcTopKIndexedSharded(
        queries, "vec_id", "embedding", k = 3, "rsh_ref")),
        "resharded probe diverged from the fresh build's")
      assert(!probed.exists(_._2 % 10 == 7),
        "a deleted id survived the reshard")
      // (c) old layout gone; lifecycle resolves the new one
      assert(!spark.catalog.tableExists("rsh_idx_sv"),
        "old generation table rsh_idx_sv survived the commit")
      Similarity.appendIvfAdcIndexSharded(
        vecs.filter(col("vec_id") === 7)
          .withColumn("vec_id", lit(900L)),
        "vec_id", "embedding", "rsh_idx")
      assert(spark.table("rsh_idx_r1_sv")
        .filter(col("id") === 900 && col("shard") === 0)
        .count() == 1L, // 900 % 3 == 0 — routed into the NEW layout
        "post-reshard append did not land in the new layout")
      // (e) a FRESH BUILD over a resharded index replaces the whole
      // layout — the reshard generation's differently-named tables
      // must not survive as orphans
      Similarity.writeIvfAdcIndexSharded(survivors, "vec_id",
        "embedding", "rsh_idx", nShards = 2, dim = 64)
      assert(!spark.catalog.tableExists("rsh_idx_r1_sv"),
        "rebuild orphaned the resharded table rsh_idx_r1_sv")
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries,
          "vec_id", "embedding", k = 3, "rsh_idx")).nonEmpty,
        "rebuild over the resharded index does not probe")
      // (f) the generation sweep heals crash residue: a stale
      // generation's tables (a crashed GC's orphans, swap shadows
      // included) go at the next reshard's entry, the retired
      // generation's swap shadows (swaps that crashed before their
      // DROP, live tables still in place) go with it, and a fresh build
      // at a SMALLER shard count leaves no other generation's tables
      // behind
      val residue = Seq("rsh_idx_r7_sv", "rsh_idx_r7_sv_g_compact_shadow",
        "rsh_idx_r7_sv_c_compact_shadow",
        "rsh_idx_r7_sv_g_hwm_compact_shadow",
        "rsh_idx_sv_compact_shadow", "rsh_idx_sv_g_compact_shadow",
        "rsh_idx_sv_c_compact_shadow")
      residue.foreach(t =>
        spark.range(1).toDF("x").write.format("parquet").saveAsTable(t))
      Similarity.reshardIvfAdcIndex(survivors, "vec_id", "embedding",
        "rsh_idx", newShards = 2, dim = 64)
      residue.foreach(t => assert(!spark.catalog.tableExists(t),
        s"$t survived the reshard's generation sweep"))
      Similarity.writeIvfAdcIndexSharded(survivors, "vec_id",
        "embedding", "rsh_idx", nShards = 1, dim = 64)
      assert(!spark.catalog.tableExists("rsh_idx_r1_sv"),
        "fresh build left another generation's tables behind")
      assert(rows(Similarity.ivfAdcTopKIndexedSharded(queries,
          "vec_id", "embedding", k = 3, "rsh_idx")).nonEmpty)
    } finally {
      for (t <- Seq("rsh_idx_sv", "rsh_idx_r1_sv", "rsh_idx_r2_sv",
          "rsh_idx_r7_sv", "rsh_ref_sv");
          sfx <- Seq("", "_c", "_g", "_g_hwm", "_t");
          shadow <- Seq("", "_compact_shadow"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx$shadow")
      spark.sql("DROP TABLE IF EXISTS rsh_idx_sh")
      spark.sql("DROP TABLE IF EXISTS rsh_ref_sh")
    }
  }

  test("sharded tuned serving: per-shard dials compose — nShards=1 is bit-equal to the single-table hier probe at the same dials; the N-shard tuned fan-out agrees with the fraction law") {
    // r18 verdict item 1: sharding (the horizontal 100 TB dial) and
    // the tuned/hier probe (the serving dial) were mutually exclusive
    // — the fan-out re-inherited the fraction law's linear candidates.
    // Gates: (a) tuneShardServing at nShards=1 meets its gate under the
    // fraction law's dial; (b) the tuned probe at nShards=1 with full
    // group coverage is BIT-EQUAL to the fraction-law flat probe at
    // the same nprobe (the two-level kernel loses nothing);
    // (c) at N>1 shards the tuned fan-out's output agrees with the
    // oracle-shaped fraction-law fan-out on the gated clustered
    // geometry; (d) a dial/shard-count mismatch fails loudly.
    val n = 800
    val vecs = spark.range(n).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 16), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float))").as("embedding"))
    val queries = vecs.filter(col("vec_id") % 40 === 0) // 20 queries
    val target = 0.8
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "shtn1_idx", nShards = 1, dim = 64)
      val dials = Similarity.tuneShardServing(queries, "vec_id",
        "embedding", k = 3, "shtn1_idx", targetRecall = target)
        .map(_.dials)
      assert(dials.length == 1)
      // (a) both dials meet the gate against the quantizer ceiling
      // (flat-probe-referenced gprobe gates would compound,
      // tuneShardServing doc), under the fraction law's nprobe
      val (nlist, fracNp) = Similarity.ivfParams(n.toLong)
      val groups = math.ceil(math.sqrt(nlist.toDouble)).toInt
      assert(dials.head.probeRecall >= target &&
        dials.head.hierRecall >= target && dials.head.nprobe <= fracNp,
        s"nShards=1 dials ${dials.head} missed the gate (fraction law " +
          s"np=$fracNp)")
      // (b) full group coverage at the fraction-law nprobe is the flat
      // fraction-law probe, bit-equal
      assert(rows(Similarity.ivfAdcTopKIndexedShardedTuned(queries,
          "vec_id", "embedding", k = 3, "shtn1_idx",
          Seq(Similarity.ShardDials(fracNp, 0.0, groups, 0.0)))) ==
        rows(Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
          "embedding", k = 3, "shtn1_idx")),
        "nShards=1 two-level probe at full coverage diverged from the " +
          "flat probe")
      // (c) N=4: every shard tunes against its own audit and the
      // merged tuned output tracks the fraction-law fan-out (the
      // qshard_tuned GrowthBench agreement gate, here at spec scale)
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "shtn4_idx", nShards = 4, dim = 64)
      val dials4 = Similarity.tuneShardServing(queries, "vec_id",
        "embedding", k = 3, "shtn4_idx", targetRecall = target)
        .map(_.dials)
      assert(dials4.length == 4)
      assert(dials4.forall(_.probeRecall >= target),
        s"a shard's tuned probe recall missed the gate: $dials4")
      val tuned = Similarity.ivfAdcTopKIndexedShardedTuned(queries,
        "vec_id", "embedding", k = 3, "shtn4_idx", dials4)
      // the composition gate: per-shard recall gates (each vs its own
      // shard's quantizer ceiling) must compose to a global gate —
      // a global ceiling-top-k member lives in exactly one shard and
      // ranks at least as high in that shard's local top-k, so the
      // merged tuned output's recall against the MERGED ceiling
      // (targetRecall=1.0 probes every cell of every shard) tracks
      // the per-shard target. Deliberately NOT tuned-vs-fraction-law
      // agreement: two independent 0.8-recall approximations overlap
      // well below 0.8 even when both meet their gates.
      val ceiling4 = Similarity.ivfAdcTopKIndexedSharded(queries,
        "vec_id", "embedding", k = 3, "shtn4_idx", targetRecall = 1.0)
      val rec4 = Similarity.retrievalAgreement(tuned, ceiling4,
          "q_id", "nb_id")
        .agg((sum("n_both") / sum("n_b")).cast("double"))
        .head().getDouble(0)
      assert(rec4 >= target - 0.05,
        f"merged tuned recall vs merged ceiling $rec4%.3f fell " +
          f"below the composed gate (${target - 0.05}%.2f)")
      // (d) the dial/shard contract is loud
      intercept[IllegalArgumentException] {
        Similarity.ivfAdcTopKIndexedShardedTuned(queries, "vec_id",
          "embedding", k = 3, "shtn4_idx", dials)
      }
      // (e) persisted per-shard dials (items 1+3 composed): round-trip,
      // stored-dials serving identical to explicit dials, and ANY
      // shard's retrain refuses the stored dials stale
      Similarity.writeShardServing(spark, "shtn4_idx",
        dials4.map(dl => Similarity.ShardServing("probe", dl, depth = 0,
          recall = dl.hierRecall)))
      assert(Similarity.readShardServing(spark, "shtn4_idx")
          .map(_.map(_.dials)).contains(dials4),
        "per-shard dials did not round-trip")
      assert(rows(Similarity.ivfAdcTopKIndexedShardedTuned(queries,
          "vec_id", "embedding", k = 3, "shtn4_idx")) == rows(tuned),
        "stored-dials serving diverged from explicit dials")
      Similarity.retrainIvfAdcShard(vecs, "vec_id", "embedding",
        "shtn4_idx", shard = 1, dim = 64)
      assert(Similarity.readShardServing(spark, "shtn4_idx").isEmpty,
        "stale per-shard dials served after one shard's retrain")
      intercept[IllegalStateException] {
        Similarity.ivfAdcTopKIndexedShardedTuned(queries, "vec_id",
          "embedding", k = 3, "shtn4_idx")
      }
    } finally {
      AdcKit.drop("shtn1_idx", "shtn4_idx")
    }
  }

  test("sharded serving escalation: mode-growth shards stay probe-only; density shards plateau and escalate to a per-shard exact-dot re-rank that clears the gate") {
    // r19 verdict item 2: tuneServing's plateau->re-rank policy existed
    // only single-table — a density-regime shard had no path to the
    // exact-dot re-rank. Gates: (a) on the mode-growth geometry every
    // shard decides probe mode and the served fan-out's ranks equal the
    // tuned fan-out's (same key, same tiebreak); (b) on the density
    // geometry shards ESCALATE, the decision is honest (probe-only
    // recall at the plateaued dial really is below the gate) and the
    // served fan-out's measured recall clears it; (c) an escalated
    // store refuses the probe-only serving entry loudly; (d) stored
    // serving rows are refused stale after one shard's retrain.
    val target = 0.8
    val clustered = spark.range(800).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 16), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float))").as("embedding"))
    val dense = spark.range(400).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 17, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 29, i), 200) / 1000000.0d as float))")
      .as("embedding"))
    val clPanel = clustered.filter(col("vec_id") % 40 === 0)
    val dnPanel = dense.filter(col("vec_id") % 20 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      // (a) mode-growth at 2 shards: probe mode everywhere, served ==
      // tuned down to (q_id, nb_id, rank)
      Similarity.writeIvfAdcIndexSharded(clustered, "vec_id",
        "embedding", "esc_cl_idx", nShards = 2, dim = 64)
      val clServe = Similarity.tuneShardServingPersist(clPanel, "vec_id",
        "embedding", k = 3, "esc_cl_idx", targetRecall = target,
        vecs = Some(clustered))
      assert(clServe.forall(_.mode == "probe"),
        s"mode-growth shards escalated needlessly: $clServe")
      assert(clServe.forall(_.recall >= target),
        s"a probe-mode shard's end-to-end recall missed the gate: " +
          s"$clServe")
      val served = Similarity.ivfAdcTopKIndexedShardedTuned(clPanel,
        "vec_id", "embedding", k = 3, "esc_cl_idx", vecs = Some(clustered))
      val tuned = Similarity.ivfAdcTopKIndexedShardedTuned(clPanel,
        "vec_id", "embedding", k = 3, "esc_cl_idx",
        clServe.map(_.dials))
      assert(rows(served) == rows(tuned),
        "all-probe served fan-out diverged from the tuned fan-out")
      // (b) density at 2 shards (pmod routing halves every cluster, so
      // the within-cluster 1e-4 epsilon geometry — far below the int8
      // step — survives per shard): escalation, honesty, gate
      Similarity.writeIvfAdcIndexSharded(dense, "vec_id", "embedding",
        "esc_dn_idx", nShards = 2, dim = 64)
      val dnServe = Similarity.tuneShardServingPersist(dnPanel, "vec_id",
        "embedding", k = 3, "esc_dn_idx", targetRecall = target,
        vecs = Some(dense))
      assert(dnServe.forall(_.mode == "rerank"),
        s"density shards did not escalate: $dnServe")
      assert(dnServe.forall(sv => sv.recall >= target),
        s"an escalated shard's recall still missed the gate: $dnServe")
      assert(dnServe.forall(_.dials.probeRecall < target),
        s"a shard escalated although its probe met the gate: $dnServe")
      assert(dnServe.forall(sv => sv.depth > 3 && sv.depth <= 32 * 3),
        s"a tuned depth left the dial range: $dnServe")
      // the decision is honest: the probe-only fan-out at the
      // plateaued dials (gprobe = MaxValue clamps to the full group
      // count == the flat probe, the hier contract) really is
      // deficient against the float-exact MIPS reference...
      val probeOnly = Similarity.retrievalAgreement(
          Similarity.ivfAdcTopKIndexedShardedTuned(dnPanel, "vec_id",
            "embedding", k = 3, "esc_dn_idx",
            dnServe.map(sv => Similarity.ShardDials(sv.dials.nprobe,
              sv.dials.probeRecall, Int.MaxValue, 0.0))),
          exactMips(dense, dnPanel), "q_id", "nb_id")
        .agg((sum("n_both") / sum("n_b")).cast("double"))
        .head().getDouble(0)
      assert(probeOnly < target,
        s"probe-only recall $probeOnly met the target — the " +
          "escalation was unnecessary and the corpus is vacuous")
      // ...and the served fan-out (exact-dot re-rank per escalated
      // shard) clears the composed gate
      val dnServed = Similarity.ivfAdcTopKIndexedShardedTuned(dnPanel,
        "vec_id", "embedding", k = 3, "esc_dn_idx", vecs = Some(dense))
      val servedRec = Similarity.retrievalAgreement(dnServed,
          exactMips(dense, dnPanel), "q_id", "nb_id")
        .agg((sum("n_both") / sum("n_b")).cast("double"))
        .head().getDouble(0)
      assert(servedRec >= target - 0.05,
        f"served fan-out recall $servedRec%.3f below the gate")
      // (c) escalated store refuses the probe-only entry, by name
      val esc = intercept[IllegalStateException] {
        Similarity.ivfAdcTopKIndexedShardedTuned(dnPanel, "vec_id",
          "embedding", k = 3, "esc_dn_idx")
      }
      assert(esc.getMessage.contains("esc_dn_idx has ESCALATED shards"),
        s"an escalated store served probe-only dials: ${esc.getMessage}")
      // (d) stale refusal after one shard's retrain
      Similarity.retrainIvfAdcShard(dense, "vec_id", "embedding",
        "esc_dn_idx", shard = 0, dim = 64)
      assert(Similarity.readShardServing(spark, "esc_dn_idx").isEmpty,
        "stale serving rows survived a shard's retrain")
      intercept[IllegalStateException] {
        Similarity.ivfAdcTopKIndexedShardedTuned(dnPanel, "vec_id",
          "embedding", k = 3, "esc_dn_idx", vecs = Some(dense))
      }
    } finally {
      for (t <- Seq("esc_cl_idx_sv", "esc_dn_idx_sv");
          sfx <- Seq("", "_c", "_g", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
      for (t <- Seq("esc_cl_idx_sh", "esc_dn_idx_sh", "esc_cl_idx_serve",
          "esc_dn_idx_serve"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("mixed-mode sharded serving merges probe and rerank branches on one scale: the rerank shard's true neighbors survive the global rank") {
    // ADVICE r20 (high): probe-branch candidates were scored by the raw
    // idot × scale key — ~127²/qscale times the true dot — so in a
    // MIXED-mode index they always outranked the rerank branch's exact
    // float dots, silently starving every escalated shard's true top-k
    // out of the merge (the earlier specs covered all-probe and
    // all-rerank only). The gate: a half-clustered / half-dense corpus
    // routed by id parity (pmod sharding) tunes into one probe shard +
    // one rerank shard, and the served fan-out's recall against the
    // float-exact MIPS reference clears the target — which the
    // incommensurable merge cannot do (the dense half's queries have
    // all their true neighbors in the rerank shard).
    val target = 0.8
    val mixed = spark.range(800).select(col("id").as("vec_id"), expr(
      "CASE WHEN pmod(id, 2) = 0 THEN " +
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 16), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float)) ELSE " +
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 17, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 29, i), 200) / 1000000.0d as float)) END")
      .as("embedding"))
    val panel = mixed.filter(
      col("vec_id") % 40 === 0 || col("vec_id") % 40 === 7)
    try {
      Similarity.writeIvfAdcIndexSharded(mixed, "vec_id", "embedding",
        "mx_idx", nShards = 2, dim = 64)
      val serve = Similarity.tuneShardServingPersist(panel, "vec_id",
        "embedding", k = 3, "mx_idx", targetRecall = target,
        vecs = Some(mixed))
      assert(serve.map(_.mode).toSet == Set("probe", "rerank"),
        s"corpus did not tune into mixed modes (vacuous gate): $serve")
      val served = Similarity.ivfAdcTopKIndexedShardedTuned(panel,
        "vec_id", "embedding", k = 3, "mx_idx", vecs = Some(mixed))
      val rec = Similarity.retrievalAgreement(served,
          exactMips(mixed, panel), "q_id", "nb_id")
        .agg((sum("n_both") / sum("n_b")).cast("double"))
        .head().getDouble(0)
      assert(rec >= target - 0.05,
        f"mixed-mode served recall $rec%.3f below the gate — the " +
          "branches merged on incommensurable scales")
    } finally {
      for (sfx <- Seq("", "_c", "_g", "_g_hwm", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS mx_idx_sv$sfx")
      for (t <- Seq("mx_idx_sh", "mx_idx_serve"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a sharded build refuses to sweep grammar-matching tables no _sh sidecar claims") {
    // ADVICE r20 (low): writeIvfAdcIndexSharded swept every catalog
    // name matching `<table>(_r<g>)?_sv(...)` unconditionally, so
    // building a sharded index named `foo` silently DROPPED an
    // unrelated table legitimately named `foo_sv` (requireShardableName
    // reserves the grammar only among index names). The sweep is now
    // conditional on the `_sh` sidecar; without one the build refuses
    // loudly and the collider survives.
    val vecs = spark.range(200).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 11, i), 2000) / 1000.0d - 1.0d as float))")
      .as("embedding"))
    try {
      vecs.write.saveAsTable("swp_sv")
      val ex = intercept[IllegalArgumentException] {
        Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
          "swp", nShards = 2, dim = 64)
      }
      assert(ex.getMessage.contains("swp_sv"), ex.getMessage)
      // the unrelated table survived intact
      assert(spark.catalog.tableExists("swp_sv") &&
        spark.table("swp_sv").count() == 200L)
    } finally AdcKit.drop("swp")
  }

  /** Float-exact MIPS top-k as a (q_id, nb_id)-shaped reference — the
    * escalation spec's exact leg (the library keeps its own private;
    * the spec re-derives it declaratively). */
  private def exactMips(vecs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    val corpus = vecs.select(col("vec_id").as("id"),
      col("embedding").as("v"))
    val qs = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"))
    broadcast(qs).crossJoin(corpus)
      .filter(col("q_id") =!= col("id"))
      .withColumn("d", Similarity.dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("nb_id"))
  }

  test("persisted serving decision: stored dials round-trip, a retrain refuses them stale, and the stacks serve from the store with no hand dials") {
    // r18 verdict item 3: the serving decision previously lived only
    // in the caller — every serving session re-paid the exact leg.
    // Gates: (a) tuneShardServingPersist's decision reads back exactly;
    // (b) qb7TunedStored == the qb7 stack with the tuned probe at the
    // stored dials (the stack takes NO hand dials and runs NO exact
    // leg); (c) a retrain flips the quantizer state and the stored
    // decision is refused stale — loudly at the stack; (d) a re-tune
    // re-populates; (e) the rerank mode round-trips through the same
    // store.
    val clustered = spark.range(800).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 16), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float))").as("embedding"))
    val panel = clustered.filter(col("vec_id") % 40 === 0)
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(clustered, "vec_id", "embedding",
        "srvst_idx")
      // (a) tune + persist
      val serving = Similarity.tuneShardServingPersist(panel, "vec_id",
        "embedding", k = 3, "srvst_idx", targetRecall = 0.8,
        vecs = Some(clustered))
      assert(serving.map(_.mode) == Seq("probe"),
        s"mode-growth geometry escalated unexpectedly: $serving")
      val read = Similarity.readShardServing(spark, "srvst_idx")
      assert(read.contains(serving),
        s"stored decision $read != tuned $serving")
      // (b) the stack serves from the store — bit-identical to the
      // hand-dialed twin at the same dials
      assert(rows(graft.RelationalQueries.qb7TunedStored(spark, d,
          "srvst_idx")) ==
        rows(graft.RelationalQueries.qb7Stack(spark, d, (q, k) =>
          Similarity.ivfAdcTopKIndexedShardedTuned(q, "vec_id",
            "embedding", k, "srvst_idx", serving.map(_.dials)))),
        "stored-decision stack diverged from the hand-dialed twin")
      // (c) a retrain invalidates: state key changes, read refuses,
      // the stack fails loudly instead of serving stale dials
      Similarity.retrainIvfAdcIndexSharded(clustered, "vec_id",
        "embedding", "srvst_idx")
      assert(Similarity.readShardServing(spark, "srvst_idx").isEmpty,
        "stale decision served after a retrain")
      intercept[IllegalStateException] {
        graft.RelationalQueries.qb7TunedStored(spark, d, "srvst_idx")
      }
      // (d) re-tune re-populates against the new quantizer state
      Similarity.tuneShardServingPersist(panel, "vec_id", "embedding",
        k = 3, "srvst_idx", targetRecall = 0.8, vecs = Some(clustered))
      assert(Similarity.readShardServing(spark, "srvst_idx").isDefined,
        "re-tune did not re-populate the store")
      // (e) the escalated mode round-trips through the same store
      val rr = Seq(Similarity.ShardServing("rerank",
        Similarity.ShardDials(2, 0.5, 0, 0.0), depth = 9, recall = 0.9))
      Similarity.writeShardServing(spark, "srvst_idx", rr)
      assert(Similarity.readShardServing(spark, "srvst_idx").contains(rr),
        "rerank mode did not round-trip")
    } finally AdcKit.drop("srvst_idx")
  }

  test("tuneServing: probe-only on mode-growth clusters; the probe plateau escalates to a tuned re-rank in the density regime") {
    // r17 verdict item 2: the probe tuner's plateau cutoff DETECTED the
    // density regime (loss probing cannot fix) but the operator was
    // told "re-rank territory" in prose. The serving policy
    // (tuneShardServing, here at nShards = 1): dial meets the gate ->
    // probe mode; dial plateaus below it -> rerank mode whose measured
    // recall reaches the gate, priced by its tuned depth.
    val target = 0.8
    // (a) the mode-growth geometry (the tuneNprobe spec's corpus):
    // within-cluster margins well above the int8 noise floor — probing
    // alone reaches the gate, the policy must NOT escalate
    val clustered = spark.range(800).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 16), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float))").as("embedding"))
    // (b) the density geometry: 8 clusters whose members differ by
    // ~1e-4 epsilons — far below the int8 quantization step (~8e-3),
    // so ADC ranks within a cluster by tie-break, not similarity, and
    // NO nprobe fixes it; exact re-rank of a deep-enough candidate
    // list does
    val dense = spark.range(400).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 17, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 29, i), 200) / 1000000.0d as float))")
      .as("embedding"))
    try {
      Similarity.writeIvfAdcIndexSharded(clustered, "vec_id", "embedding",
        "srv_cl_idx")
      Similarity.tuneShardServing(
          clustered.filter(col("vec_id") % 40 === 0), "vec_id",
          "embedding", k = 3, "srv_cl_idx", targetRecall = target,
          vecs = Some(clustered)) match {
        case Seq(sv) if sv.mode == "probe" =>
          assert(sv.recall >= target,
            s"probe-only recall ${sv.recall} below $target")
          assert(sv.dials.nprobe >= 1 &&
            sv.dials.nprobe <= Similarity.ivfParams(800L)._1)
        case other => fail(
          s"clustered corpus escalated needlessly: $other")
      }
      Similarity.writeIvfAdcIndexSharded(dense, "vec_id", "embedding",
        "srv_dn_idx")
      val dnPanel = dense.filter(col("vec_id") % 20 === 0)
      Similarity.tuneShardServing(dnPanel, "vec_id", "embedding",
          k = 3, "srv_dn_idx", targetRecall = target,
          vecs = Some(dense)) match {
        case Seq(sv) if sv.mode == "rerank" =>
          val (np, depth, rec) = (sv.dials.nprobe, sv.depth, sv.recall)
          assert(rec >= target,
            s"escalated path still below the gate: recall $rec at " +
              s"depth $depth (np=$np)")
          assert(depth > 3 && depth <= 32 * 3,
            s"depth $depth outside the tuned range")
          // the decision is honest: the flat probe alone really is
          // deficient at the plateaued dial (the two-level kernel at
          // full group coverage is the flat kernel)
          val groups = math.ceil(
            math.sqrt(Similarity.ivfParams(400L)._1.toDouble)).toInt
          val probeOnly = AdcKit.recall(
            Similarity.ivfAdcTopKIndexedShardedTuned(dnPanel, "vec_id",
              "embedding", k = 3, "srv_dn_idx",
              Seq(Similarity.ShardDials(np, 0.0, groups, 0.0))),
            exactMips(dense, dnPanel))
          assert(probeOnly < target,
            s"probe-only recall $probeOnly met the target — the " +
              "escalation was unnecessary and the corpus is vacuous")
        case other => fail(
          s"density corpus did not escalate: $other")
      }
    } finally AdcKit.drop("srv_cl_idx", "srv_dn_idx")
  }

  test("a same-name index REBUILD invalidates the memoized quantizer broadcast — probes rank against the new quantizer") {
    // the probe expressions ride a broadcast memoized per (table,
    // epochs); a rebuild restarts epochs at 0, so without explicit
    // invalidation a warm process would silently probe the OLD
    // quantizer. Two corpora with different cluster layouts at the
    // same table name must probe like their own fresh builds.
    val a = spark.range(300).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 11, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 13, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val b = spark.range(300).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 41, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 43, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val queries = b.filter(col("vec_id") % 30 === 0)
    try {
      Similarity.writeIvfAdcIndexSharded(a, "vec_id", "embedding",
        "adc_rbld_idx")
      // warm the memo on corpus A's quantizer
      AdcKit.probe(queries, "adc_rbld_idx")
      // REBUILD at the same name over corpus B
      Similarity.writeIvfAdcIndexSharded(b, "vec_id", "embedding",
        "adc_rbld_idx")
      Similarity.writeIvfAdcIndexSharded(b, "vec_id", "embedding",
        "adc_rbld_ref")
      val got = AdcKit.probe(queries, "adc_rbld_idx")
      val ref = AdcKit.probe(queries, "adc_rbld_ref")
      assert(ref.nonEmpty && got == ref,
        "rebuilt index probed against a stale memoized quantizer")
    } finally AdcKit.drop("adc_rbld_idx", "adc_rbld_ref")
  }

  test("a foreign same-name rebuild is seen by the very next fraction-law, explicit-dials and stream-start probe") {
    // every ADC call reads the index state fresh: no conf, no hook, no
    // staleness window. A FOREIGN rebuild — another process drops and
    // rebuilds the index at the same name — leaves this process's
    // broadcast memos untouched (an in-process build clears them) and
    // restarts the epoch numbers, so only the centroid-file snapshot
    // can tell the states apart. Simulated by swapping the tables'
    // contents through the catalog without the write path.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val a = spark.range(300).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 11, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 13, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val b = spark.range(300).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 41, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 43, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val queries = b.filter(col("vec_id") % 30 === 0)
    val dials = Seq(Similarity.ShardDials(2, 0.9, 1, 0.9))
    def frac(table: String) = AdcKit.probe(queries, table)
    def tuned(table: String) = AdcKit.ranks(
      Similarity.ivfAdcTopKIndexedShardedTuned(queries, "vec_id",
        "embedding", k = 3, table, dials))
    def streamed(table: String) = {
      val sink = tmpDir("adc_fresh_sink")
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val q = Similarity.startStreamAdcTopKSharded(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 3, table, sink)
      try {
        ms.addData(queries.select("vec_id", "embedding")
          .as[(Long, Array[Float])].collect().toSeq)
        q.processAllAvailable()
      } finally q.stop()
      AdcKit.ranks(spark.read.parquet(sink))
    }
    def all(table: String) = (frac(table), tuned(table), streamed(table))
    def foreignSwapFrom(src: String): Unit =
      for (sfx <- Seq("_sv", "_sv_c", "_sv_g")) {
        val staged = spark.table(src + sfx).localCheckpoint()
        spark.sql(s"DROP TABLE IF EXISTS adc_frs_idx$sfx")
        staged.write.saveAsTable("adc_frs_idx" + sfx)
      }
    try {
      Similarity.writeIvfAdcIndexSharded(a, "vec_id", "embedding",
        "adc_frs_idx")
      val before = all("adc_frs_idx") // warms every memo on A's state
      Similarity.writeIvfAdcIndexSharded(b, "vec_id", "embedding",
        "adc_frs_b")
      val ref = all("adc_frs_b")
      assert(ref._1.nonEmpty && ref._2.nonEmpty && ref._3.nonEmpty &&
        before._1 != ref._1 && before._2 != ref._2 && before._3 != ref._3,
        "vacuous gate: the two indexes rank alike")
      foreignSwapFrom("adc_frs_b")
      val got = all("adc_frs_idx")
      assert(got._1 == ref._1, "fraction-law probe served the old state")
      assert(got._2 == ref._2, "explicit-dials probe served the old state")
      assert(got._3 == ref._3, "stream-start probe served the old state")
    } finally AdcKit.drop("adc_frs_idx", "adc_frs_b")
  }

  test("another session's append and delete, and a streamed append, are seen by this session's next probe") {
    // each session caches a table's relation with its file listing; a
    // probe that read its stored side through that cache would miss
    // what another session landed — another user's session here, a
    // stream's micro-batch clone below — and a takedown would go
    // unenforced
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val other = spark.newSession()
    def docs(s: org.apache.spark.sql.SparkSession, ids: Seq[Long],
        text: String) = s.createDataFrame(ids.map(i => (i, text)))
      .toDF("doc_id", "text")
    def lexIds(s: org.apache.spark.sql.SparkSession): Set[Long] =
      TextAnalysis.bm25TopKIndexed(
          s.createDataFrame(Seq((0L, "fresh streamed"))).toDF("q_id", "qtext"),
          "q_id", "qtext", "sess_bm", k = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def vecs(s: org.apache.spark.sql.SparkSession) =
      s.range(400).select(col("id").as("vec_id"), expr(
        "transform(sequence(0, 63), i -> cast(" +
        "pmod(hash(id, 17, i), 2000) / 1000.0d - 1.0d as float))")
        .as("embedding"))
    def denseIds(s: org.apache.spark.sql.SparkSession): Set[Long] =
      Similarity.ivfAdcTopKIndexedSharded(
          vecs(s).filter(col("vec_id") === 311), "vec_id", "embedding",
          k = 3, "sess_adc")
        .select("nb_id").collect().map(_.getLong(0)).toSet
    try {
      TextAnalysis.writeBm25Index(docs(spark, 0L until 200L, "old words"),
        "doc_id", "text", "sess_bm")
      assert(lexIds(spark).isEmpty) // caches this session's relation
      TextAnalysis.appendBm25Index(docs(other, 1000L to 1002L, "fresh"),
        "doc_id", "text", "sess_bm")
      assert(lexIds(other) == Set(1000L, 1001L, 1002L))
      assert(lexIds(spark) == Set(1000L, 1001L, 1002L),
        "this session's probe missed the other session's append")
      val ms = MemoryStream[(Long, String)](spark)
      val q = TextAnalysis.startStreamAppendBm25Index(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", "sess_bm")
      ms.addData((2000L, "streamed"), (2001L, "streamed"))
      graft.streaming.EventStreams.drain(q)
      assert(lexIds(spark) == Set(1000L, 1001L, 1002L, 2000L, 2001L),
        "this session's probe missed the streamed append")

      Similarity.writeIvfAdcIndexSharded(vecs(spark), "vec_id",
        "embedding", "sess_adc")
      Similarity.deleteIvfVecsSharded(spark, "sess_adc",
        Seq(5L).toDF("vec_id"), "vec_id")
      val victim = denseIds(spark).min // caches the tombstones
      Similarity.deleteIvfVecsSharded(other, "sess_adc",
        other.range(victim, victim + 1).toDF("vec_id"), "vec_id")
      assert(!denseIds(other).contains(victim))
      assert(!denseIds(spark).contains(victim),
        "this session's probe served an id the other session deleted")
    } finally {
      for (t <- Seq("sess_bm", "sess_bm_s", "sess_bm_t", "sess_bm_s_hwm"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      AdcKit.drop("sess_adc")
    }
  }

  test("an in-process retrain is probe-visible immediately") {
    // a warm serving loop in the same process sees its own retrain's
    // epoch flip on the very next plan: protocol state and centroid
    // listing are read per call, and the retrain releases the stale
    // quantizer broadcast. (A pre-retrain epoch would filter the
    // stored side to retired rows and the probe would silently serve
    // nothing.)
    val a = spark.range(300).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 11, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 13, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val b = spark.range(300).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 41, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 43, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val queries = b.filter(col("vec_id") % 30 === 0)
    def rows(table: String) = AdcKit.probe(queries, table)
    try {
      Similarity.writeIvfAdcIndexSharded(a, "vec_id", "embedding",
        "adc_rtl_idx")
      rows("adc_rtl_idx") // warm the quantizer memo
      Similarity.retrainIvfAdcIndexSharded(b, "vec_id", "embedding",
        "adc_rtl_idx")
      Similarity.writeIvfAdcIndexSharded(b, "vec_id", "embedding",
        "adc_rtl_ref")
      val got = rows("adc_rtl_idx")
      assert(got.nonEmpty && got == rows("adc_rtl_ref"),
        "in-process retrain hidden by the warm quantizer memo")
    } finally AdcKit.drop("adc_rtl_idx", "adc_rtl_ref")
  }

  test("requireQuantStable: a mid-tune same-name rebuild fails the tune even when the epoch NUMBER matches") {
    // ADVICE r17: a stability guard comparing only epoch numbers passes
    // a mid-tune same-name rebuild (epochs restart at 0), and the
    // returned dials would mix recalls measured against different
    // quantizers. The tuners' guard (requireSvStable) compares the
    // centroid FILE SNAPSHOT.
    val a = spark.range(200).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 8), 11, i), 2000) / 1000.0d - 1.0d as float))")
      .as("embedding"))
    try {
      Similarity.writeIvfAdcIndexSharded(a, "vec_id", "embedding",
        "adc_stbl_idx")
      val s0 = Similarity.svStateNow(spark, "adc_stbl_idx")
      Similarity.requireSvStable(spark, "adc_stbl_idx", s0) // no-op
      // same-name rebuild: epoch numbers restart, files differ
      Similarity.writeIvfAdcIndexSharded(a, "vec_id", "embedding",
        "adc_stbl_idx")
      assert(AdcKit.epoch("adc_stbl_idx") == 0L)
      val ex = intercept[IllegalArgumentException] {
        Similarity.requireSvStable(spark, "adc_stbl_idx", s0)
      }
      assert(ex.getMessage.contains("mix"),
        s"rebuild with matching epoch number passed the guard: " +
          ex.getMessage)
    } finally AdcKit.drop("adc_stbl_idx")
  }

  test("ivfAdcTopKIndexedShardedTuned: full group coverage is bit-identical to the flat probe; the sqrt-scan dial keeps measured recall") {
    // the two-level probe replaces the flat O(nlist) coarse scan with
    // O(sqrt(nlist)) — at full gprobe it must lose NOTHING (bit-equal
    // results), and at a partial gprobe its recall is a measured dial
    // like nprobe's. Same clustered recipe as the tuneNprobe spec.
    val n = 800
    val clusters = 16
    val vecs = spark.range(n).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      s"pmod(hash(pmod(id, $clusters), 17, i), 2000) / 1000.0d - 1.0d" +
      " + CASE WHEN i < 4 THEN pmod(hash(id, 23, i), 600) / 1000.0d" +
      " - 0.3d ELSE 0.0d END as float))").as("embedding"))
    val queries = vecs.filter(col("vec_id") % 40 === 0)
    val (nlist, _) = Similarity.ivfParams(n.toLong)
    val g = math.ceil(math.sqrt(nlist.toDouble)).toInt
    def hier(nprobe: Int, gprobe: Int) =
      Similarity.ivfAdcTopKIndexedShardedTuned(queries, "vec_id",
        "embedding", k = 3, "adc_hier_idx",
        Seq(Similarity.ShardDials(nprobe, 0.0, gprobe, 0.0)))
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "adc_hier_idx")
      // exhaustive ADC reference: every cell probed on both paths
      // (targetRecall 1.0 puts the flat fraction law at nprobe = nlist)
      val flatFull = Similarity.ivfAdcTopKIndexedSharded(queries,
        "vec_id", "embedding", k = 3, "adc_hier_idx", targetRecall = 1.0)
      assert(AdcKit.ranks(flatFull).nonEmpty &&
        AdcKit.ranks(hier(nlist, g)) == AdcKit.ranks(flatFull),
        "full-coverage two-level probe diverged from the flat probe")
      // the sqrt dial: probe 2 of ceil(sqrt(nlist)) groups — measured
      // recall against the exhaustive ADC reference stays above the
      // gate on clustered vectors (neighbors live in the query's own
      // group neighborhood)
      val recall = AdcKit.recall(hier(8, 2), flatFull)
      assert(recall >= 0.8,
        f"two-level recall $recall%.3f below 0.8 at gprobe=2 of $g")
      // the group dial derives itself like nprobe does, and the tuner
      // reports the measured recall of the dials it returns
      val Seq(dl) = Similarity.tuneShardServing(queries, "vec_id",
        "embedding", k = 3, "adc_hier_idx", targetRecall = 0.9)
        .map(_.dials)
      assert(dl.gprobe >= 1 && dl.gprobe <= g,
        s"tuned gprobe=${dl.gprobe} outside [1, $g]")
      assert(math.abs(AdcKit.recall(hier(dl.nprobe, dl.gprobe),
          flatFull) - dl.hierRecall) < 1e-9,
        "tuneShardServing's hier recall disagrees with the audit")
    } finally AdcKit.drop("adc_hier_idx")
  }

  test("ivfAdcTopKIndexedSharded: a batch over the 65,536-row snapshot cap ranks each query as it ranks alone") {
    // the over-cap probe side: the plan kernels behind a lazy
    // checkpoint, its cells from one capped distinct collect — sampled
    // queries must rank exactly as in a small (driver-packed) batch
    def vectors(n: Long, salt: Int) = spark.range(n).select(
      col("id"), expr("transform(sequence(0, 7), i -> cast(" +
        s"pmod(hash(id, $salt, i), 2000) / 1000.0d - 1.0d as float))")
        .as("embedding"))
    val corpus = vectors(64, 31).withColumnRenamed("id", "vec_id")
    val queries = vectors(65537, 17)
      .select((col("id") + 1000000L).as("vec_id"), col("embedding"))
    try {
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_overcap_idx", dim = 8)
      val all = Similarity.ivfAdcTopKIndexedSharded(queries, "vec_id",
        "embedding", k = 3, "adc_overcap_idx")
      assert(all.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r
        }.isDefined, "the 65,537-query batch took the snapshot path")
      val sampled = AdcKit.ranks(all).filter(_._1 % 4099 == 0)
      val alone = AdcKit.probe(
        queries.filter(col("vec_id") % 4099 === 0), "adc_overcap_idx")
      assert(alone.nonEmpty && sampled == alone,
        s"over-cap=${sampled.take(12)} alone=${alone.take(12)}")
      // a backfill-sized batch still pushes its probed cells
      assert(all.queryExecution.executedPlan.toString.contains("In(gcell"),
        "the over-cap batch read the stored side unrestricted")
    } finally AdcKit.drop("adc_overcap_idx")
  }
}

class TextAnalysisSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("countMinTopK: estimates are one-sided (est >= exact), and exact when width kills collisions") {
    val docs = Seq(
      (0L, "a a a a b b b c c d"),
      (1L, "a b c d e f g h"),
      (2L, "a a b c x y z")).toDF("doc_id", "text")
    val exact = docs.select(explode(
        filter(split(col("text"), " "), w => length(w) > 0))
        .as("tok")).groupBy("tok").count()
      .as[(String, Long)].collect().toMap
    // width 4 forces collisions on this 12-token vocabulary: every
    // estimate must still upper-bound the true count, and the top-k cut
    // stays a valid set of real tokens
    val sketched = TextAnalysis.countMinTopK(docs, "doc_id", "text",
        k = 12, width = 4, depth = 2)
      .as[(String, Long)].collect()
    assert(sketched.nonEmpty)
    sketched.foreach { case (tok, est) =>
      assert(est >= exact(tok), s"$tok est=$est exact=${exact(tok)}")
    }
    // a wide sketch has no collisions on 12 tokens: est == exact, and
    // the ranking is the true frequency ranking
    val wide = TextAnalysis.countMinTopK(docs, "doc_id", "text",
        k = 12, width = 1 << 16, depth = 4)
      .as[(String, Long)].collect()
    assert(wide.length == exact.size)
    wide.foreach { case (tok, est) =>
      assert(est == exact(tok), s"$tok est=$est exact=${exact(tok)}")
    }
    val expectedOrder = exact.toSeq.sortBy { case (t, c) => (-c, t) }
    assert(wide.toSeq == expectedOrder)
  }

  test("persisted count-min: append+retract+compact == one-shot over survivors; serving probe matches; over-retraction raises") {
    import graft.pipeline.TextAnalysis
    val base = Seq(
      (0L, "a a a a b b b c c d"),
      (1L, "a b c d e f g h")).toDF("doc_id", "text")
    val extra = Seq((2L, "a a b c x y z"), (3L, "d d e y")).toDF(
      "doc_id", "text")
    val gone = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val survivors = Seq(
      (0L, "a a a a b b b c c d"),
      (2L, "a a b c x y z"),
      (3L, "d d e y")).toDF("doc_id", "text")
    def tableDir(t: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    def dataFiles(t: String) = tableDir(t).listFiles()
      .count(f => f.getName.startsWith("part-"))
    try {
      TextAnalysis.writeCountMinTable(base, "text", "cm_lc_t",
        width = 64, depth = 3)
      TextAnalysis.appendCountMinTable(extra, "text", "cm_lc_t",
        width = 64, depth = 3)
      TextAnalysis.retractCountMinDocs(gone, "text", "cm_lc_t",
        width = 64, depth = 3)
      def merged() = TextAnalysis.countMinFromTable(spark, "cm_lc_t")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val direct = TextAnalysis.countMinCounters(survivors, "text",
          width = 64, depth = 3)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(direct.nonEmpty && merged() == direct,
        "maintained counters diverged from the one-shot sketch")
      // serving from the table == scan-per-run top-k over survivors
      val probe = TextAnalysis.countMinTopKIndexed(survivors, "text",
          "cm_lc_t", k = 12, width = 64, depth = 3)
        .as[(String, Long)].collect().toSeq
      val scan = TextAnalysis.countMinTopK(survivors, "doc_id", "text",
          k = 12, width = 64, depth = 3)
        .as[(String, Long)].collect().toSeq
      assert(probe.nonEmpty && probe == scan)
      // compaction: 3 generations -> 1, merged view unchanged
      assert(dataFiles("cm_lc_t") == 3)
      TextAnalysis.compactCountMinTable(spark, "cm_lc_t")
      assert(dataFiles("cm_lc_t") == 1)
      assert(merged() == direct)
      // retracting a doc that was never added -> negative cell -> LOUD
      // (50 repeats exceed the whole corpus's token count, so the cell
      // goes negative even if it collides with every real token)
      TextAnalysis.retractCountMinDocs(
        Seq((9L, Seq.fill(50)("zzz").mkString(" "))).toDF(
          "doc_id", "text"), "text",
        "cm_lc_t", width = 64, depth = 3)
      val e = intercept[Exception] { merged() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("negative merged count")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS cm_lc_t")
      spark.sql("DROP TABLE IF EXISTS cm_lc_t_compact_shadow")
    }
  }

  test("persisted count-min refuses mismatched (width, depth) on probe AND maintenance — the stored-params guard") {
    // the r14 audit note: width/depth compatibility was
    // documentation-only. A mismatched probe hashes tokens into
    // coordinates the counters never counted (silently-wrong
    // estimates); a mismatched append poisons every future probe.
    // Params now ride every stored generation and every param-taking
    // entry point refuses a mismatch loudly — the sample tier's kcap
    // discipline on this tier.
    import graft.pipeline.TextAnalysis
    val docs = Seq((0L, "a a b c"), (1L, "b c d")).toDF("doc_id", "text")
    try {
      TextAnalysis.writeCountMinTable(docs, "text", "cm_pg_t",
        width = 64, depth = 3)
      def denied(op: => Unit): String = {
        val e = intercept[IllegalArgumentException](op)
        assert(e.getMessage.contains("do not match") &&
          e.getMessage.contains("width=64"), e.getMessage)
        e.getMessage
      }
      denied(TextAnalysis.countMinTopKIndexed(docs, "text", "cm_pg_t",
        k = 5, width = 128, depth = 3))
      denied(TextAnalysis.countMinTopKIndexed(docs, "text", "cm_pg_t",
        k = 5, width = 64, depth = 4))
      denied(TextAnalysis.appendCountMinTable(docs, "text", "cm_pg_t",
        width = 128, depth = 3))
      denied(TextAnalysis.retractCountMinDocs(docs, "text", "cm_pg_t",
        width = 64, depth = 2))
      denied(TextAnalysis.startStreamAppendCountMinTable(
        docs, "text", "cm_pg_t", width = 32, depth = 3))
      // matching params stay fully functional through the lifecycle,
      // and the guard SURVIVES compaction (params ride the rewrite)
      TextAnalysis.appendCountMinTable(docs, "text", "cm_pg_t",
        width = 64, depth = 3)
      TextAnalysis.compactCountMinTable(spark, "cm_pg_t")
      denied(TextAnalysis.countMinTopKIndexed(docs, "text", "cm_pg_t",
        k = 5, width = 128, depth = 3))
      val probe = TextAnalysis.countMinTopKIndexed(docs, "text",
          "cm_pg_t", k = 5, width = 64, depth = 3)
        .as[(String, Long)].collect().toSeq
      val scan = TextAnalysis.countMinTopK(
          docs.union(docs).toDF("doc_id", "text"), "doc_id", "text",
          k = 5, width = 64, depth = 3)
        .as[(String, Long)].collect().toSeq
      assert(probe.nonEmpty && probe == scan,
        "matching-params probe diverged after the guard landed")
      // the grouped tier shares the guard
      val gdocs = Seq(("s1", 0L, "a a b")).toDF("source", "doc_id",
        "text")
      TextAnalysis.writeCountMinTable(gdocs, "text", "gcm_pg_t", width = 64,
        depth = 3, group = Some("source"))
      val eg = intercept[IllegalArgumentException] {
        TextAnalysis.countMinTopKIndexed(gdocs, "text", "gcm_pg_t", k = 3,
          width = 128, depth = 3, group = Some("source"))
      }
      assert(eg.getMessage.contains("do not match"))
      // the auto-compaction policy on this tier preserves the guard:
      // below threshold no-op, above it compacts to one generation,
      // params ride the rewrite
      import graft.pipeline.MergeTables
      TextAnalysis.appendCountMinTable(docs, "text", "cm_pg_t",
        width = 64, depth = 3)
      val gens = MergeTables.generationCount(spark, "cm_pg_t")
      assert(!TextAnalysis.compactCountMinTable(spark, "cm_pg_t",
        maxGen = gens.toInt))
      assert(TextAnalysis.compactCountMinTable(spark, "cm_pg_t",
        maxGen = gens.toInt - 1))
      assert(MergeTables.generationCount(spark, "cm_pg_t") == 1L)
      denied(TextAnalysis.countMinTopKIndexed(docs, "text", "cm_pg_t",
        k = 5, width = 128, depth = 3))
    } finally {
      spark.sql("DROP TABLE IF EXISTS cm_pg_t")
      spark.sql("DROP TABLE IF EXISTS cm_pg_t_compact_shadow")
      spark.sql("DROP TABLE IF EXISTS gcm_pg_t")
    }
  }

  test("grouped persisted count-min: per-group lifecycle == one-shot over survivors, serving cut deterministic per group") {
    import graft.pipeline.TextAnalysis
    val base = Seq(
      ("s1", 0L, "a a a b c"), ("s2", 1L, "x x y"))
      .toDF("source", "doc_id", "text")
    val extra = Seq(
      ("s1", 2L, "a b b"), ("s2", 3L, "x z z z"))
      .toDF("source", "doc_id", "text")
    val gone = Seq(("s2", 1L, "x x y")).toDF("source", "doc_id", "text")
    val survivors = Seq(
      ("s1", 0L, "a a a b c"), ("s1", 2L, "a b b"),
      ("s2", 3L, "x z z z")).toDF("source", "doc_id", "text")
    try {
      TextAnalysis.writeCountMinTable(base, "text", "gcm_lc_t", width = 64,
        depth = 3, group = Some("source"))
      TextAnalysis.appendCountMinTable(extra, "text", "gcm_lc_t", width = 64,
        depth = 3, group = Some("source"))
      TextAnalysis.retractCountMinDocs(gone, "text", "gcm_lc_t", width = 64,
        depth = 3, group = Some("source"))
      TextAnalysis.compactCountMinTable(spark, "gcm_lc_t")
      val merged = TextAnalysis.countMinFromTable(spark, "gcm_lc_t")
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
      val direct = TextAnalysis.countMinCounters(survivors, "text",
        width = 64, depth = 3, group = Some("source"))
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
      assert(direct.nonEmpty && merged == direct,
        "maintained grouped counters diverged from the one-shot")
      // per-group top-2 at a collision-free width: exact counts, and
      // the (est desc, tok) cut per group
      val top = TextAnalysis.countMinTopKIndexed(survivors, "text",
        "gcm_lc_t", k = 2, width = 64, depth = 3, group = Some("source"))
        .as[(String, String, Long)].collect().sorted.toSeq
      assert(top == Seq(
        ("s1", "a", 4L), ("s1", "b", 3L),
        ("s2", "z", 3L), ("s2", "x", 1L)).sorted)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcm_lc_t")
      spark.sql("DROP TABLE IF EXISTS gcm_lc_t_compact_shadow")
    }
  }

  test("languageId picks the language with most stopword hits") {
    val docs = Seq(
      (0L, "the cat sat of the mat and it is that"),
      (1L, "el perro de la casa que y en un los"),
      (2L, "nostopwords here whatsoever")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs, "doc_id", "text")
      .select("doc_id", "detected").as[(Long, String)].collect().toMap
    assert(out(0L) == "en")
    assert(out(1L) == "es")
    assert(out(2L) == "en") // all-zero ties resolve to first language
  }

  test("classifierFilter: feature counts and degenerate docs") {
    // "a b c" -> unigrams a,b,c + bigrams a_b,b_c = 5 features;
    // one token -> no bigrams; empty/whitespace -> 0 features, w_sum 0,
    // kept at threshold 0 (0 >= 0)
    val docs = Seq((0L, "a b c"), (1L, "solo"), (2L, "  "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.classifierFilter(docs, "doc_id", "text")
      .select("doc_id", "n_feats", "w_sum", "keep")
      .as[(Long, Int, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L)._2 == 5)
    assert(out(1L)._2 == 1)
    assert(out(2L) == ((2L, 0, 0L, true)))
    // w_sum is the sum of per-feature weights: recompute one doc by hand
    // through the same portable hash
    def w(f: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.map(b => f"$b%02x").mkString.take(15), 16)
      h % (1 << 20) % 2001 - 1000
    }
    assert(out(0L)._3 ==
      Seq("a", "b", "c", "a_b", "b_c").map(w).sum)
    assert(out(0L)._4 == (out(0L)._3 >= 0))
  }

  test("tokenCounts: whitespace vs bpe-ish tokens") {
    val docs = Seq((0L, "ab 12 c!")).toDF("doc_id", "text")
    val Array((_, ws, bpe, n)) = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .as[(Long, Int, Int, Int)].collect()
    assert(ws == 3 && bpe == 4 && n == 8)
  }

  test("distinctiveTerms ranks by (tf desc, df asc, term) and keeps top-k") {
    val docs = Seq(
      (0L, "apple apple shared shared shared"),
      (1L, "banana cherry shared"),
      (2L, "shared dog")).toDF("doc_id", "text")
    // df: apple=1 banana=1 cherry=1 shared=3 dog=1
    val out = TextAnalysis.distinctiveTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Int)].collect()
      .map { case (d, t, tf, df, r) => (d, r) -> (t, tf, df) }.toMap
    // doc0: tf wins first (shared tf=3 beats rarer apple tf=2)
    assert(out((0L, 1)) == ("shared", 3L, 3L))
    assert(out((0L, 2)) == ("apple", 2L, 1L))
    // doc1: all tf=1 -> df asc then term asc (banana and cherry both
    // df=1: term order decides)
    assert(out((1L, 1)) == ("banana", 1L, 1L))
    assert(out((1L, 2)) == ("cherry", 1L, 1L))
    // doc2: rare dog before ubiquitous shared
    assert(out((2L, 1)) == ("dog", 1L, 1L))
    assert(out((2L, 2)) == ("shared", 1L, 3L))
    assert(out.size == 6)
  }

  test("qualityScore components are exact for a crafted doc") {
    val docs = Seq((0L, "the cat, the dog.")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_tokens") == 4)
    // "cat," and "dog." keep punctuation: sum_len = 3+4+3+4 = 14
    assert(math.abs(r.getAs[Double]("avg_tok_len") - 3.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 17) < 1e-12)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 0.5) < 1e-12)
  }

  test("fingerprint is order-sensitive") {
    val docs = Seq((0L, "alpha beta gamma"), (1L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) != fp(1L))
  }

  test("bpeMergeStep merges the most frequent adjacent pair, greedily") {
    // vocab by (cnt desc, tok): b(x5) -> 1, a(x4) -> 2, c(x2) -> 3,
    // z(x1) -> 4. Adjacent pairs: (a,b) x3 wins (doc0 "a b a b" = 2,
    // doc2 "a b" = 1); ids 2,1 -> new id 5
    val docs = Seq(
      (0L, "a b a b c"),        // 2,1,2,1,3 -> 5,5,3
      (1L, "b b b c z"),        // 1,1,1,3,4 -> unchanged
      (2L, "a b a"),            // 2,1,2 -> 5,2
      (3L, "b")                 // 1 -> unchanged (single token)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeStep(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L)._2 == 2L && out(0L)._3 == 1L && out(0L)._4 == 5L)
    assert(out(0L)._6 == "5,5,3" && out(0L)._5 == 3, out(0L))
    assert(out(1L)._6 == "1,1,1,3,4" && out(1L)._5 == 5)
    assert(out(2L)._6 == "5,2" && out(2L)._5 == 2)
    assert(out(3L)._6 == "1" && out(3L)._5 == 1)
  }

  test("bpeMergeStep: an odd self-pair run keeps floor(run/2) merges, residue mid-run") {
    // one doc "b b b b b": pair (1,1), two merges exactly like
    // token-greedy, but the two-pass replace semantics strands the
    // residue MID-run -> [N,1,N], not [N,N,1] (documented deviation:
    // pass one consumes the comma after the first merge, so the third
    // token is skipped and the 4th+5th merge instead of the 3rd+4th)
    val docs = Seq((0L, "b b b b b"), (1L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeStep(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    // vocab: b(x5) -> 1, x(x1) -> 2; new id 3
    assert(out(0L)._2 == 1L && out(0L)._3 == 1L && out(0L)._4 == 3L)
    assert(out(0L)._6 == "3,1,3" && out(0L)._5 == 3, out(0L))
    assert(out(1L)._6 == "2")
  }

  test("bpeTrain: round 1 equals bpeMergeStep, and each round's maintained counts equal a recount") {
    // real corpus slice, 3 rounds: the incremental delta maintenance must
    // leave the counts table EXACTLY the full adjacent-pair recount of
    // the current sequences — the invariant that lets the trainer skip
    // the corpus-wide recount each round
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    val (seqs, counts, history) =
      TextAnalysis.bpeTrainLoop(docs, "doc_id", "text", merges = 3)
    assert(history.size == 3, history)
    // new ids mint sequentially from the base max
    assert(history.map(_._3) == Seq(history.head._3, history.head._3 + 1,
      history.head._3 + 2), history)
    val recount = TextAnalysis.bpePairCounts(seqs)
      .as[(Long, Long, Long)].collect().toSet
    val maintained = counts.as[(Long, Long, Long)].collect().toSet
    assert(maintained == recount,
      s"maintained-only=${maintained -- recount} " +
        s"recount-only=${recount -- maintained}")
    // round 1 is exactly the audited single step
    val one = TextAnalysis.bpeMergeStep(docs, "doc_id", "text")
      .select("pair_a", "pair_b", "new_id").distinct()
      .as[(Long, Long, Long)].head()
    assert(history.head == one, s"${history.head} vs $one")
  }

  test("bpeTrain equals merges chained merge steps on a known corpus") {
    // "a b a b c" x2: round 1 merges (a,b) -> the trained sequences
    // after 2 rounds must equal hand-applying the greedy rewrite twice
    // vocab by (cnt desc, tok): a(x4)->1? counts: a=4, b=4, c=2 ->
    // ties cnt 4: 'a' < 'b' so a->1, b->2, c->3
    // round 1: pairs (1,2)x2 per doc -> merge (1,2)->4: "4,4,3"
    // round 2: pairs (4,4)x1, (4,3)x1 per doc -> (4,3)? cnt: (4,4)=2,
    // (4,3)=2 -> tie, smallest a then b: (4,3) < (4,4) -> merge -> "4,5"
    val docs = Seq((0L, "a b a b c"), (1L, "a b a b c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs, "doc_id", "text", merges = 2)
      .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._3 == "4,5" && out(0L)._2 == 2, out(0L))
    assert(out(1L)._3 == "4,5" && out(1L)._2 == 2, out(1L))
  }

  test("bm25TopK ranks by the exact quantized Lucene-BM25 score") {
    // 4-doc corpus, one external query over {apple, banana}; expected
    // score_u recomputed here with the SAME double-op tree the Column
    // expression builds (ln + mul + div in identical order), so the
    // assert is exact-long, not approximate. df(apple)=df(banana)=2,
    // N=4, avgdl=2.25.
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana"),
      (4L, "durian")
    ).toDF("doc_id", "text")
    val qs = Seq((99L, "apple banana")).toDF("q_id", "qtext")
    val k1 = 1.2; val b = 0.75
    val n = 4.0; val avgdl = 2.25
    def w(tf: Double, df: Double, dl: Double): Double =
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
        (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))
    def u(score: Double): Long = math.floor(score * 1e6).toLong
    val exp1 = u(w(2, 2, 3) + w(1, 2, 3))  // doc 1: apple tf=2, banana tf=1
    val exp3 = u(w(3, 2, 3))               // doc 3: banana tf=3
    val exp2 = u(w(1, 2, 2))               // doc 2: apple tf=1
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        qs, "q_id", "qtext", k = 3, k1 = k1, b = b)
      .as[(Long, Long, Int, Long)].collect().sortBy(_._3)
    assert(out.toSeq == Seq(
      (99L, 1L, 1, exp1), (99L, 3L, 2, exp3), (99L, 2L, 3, exp2)), out.toSeq)
  }

  test("bm25TopK excludes the query doc itself and honors k") {
    // query id 1 collides with corpus doc 1 -> doc 1 must not retrieve
    // itself even though it matches both terms best; k=1 cuts to the
    // single best other doc (doc 3, the banana-heavy one)
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "apple banana")).toDF("q_id", "qtext")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        qs, "q_id", "qtext", k = 1)
      .as[(Long, Long, Int, Long)].collect()
    assert(out.length == 1 && out(0)._2 == 3L && out(0)._3 == 1, out.toSeq)
  }

  test("bm25TopKIndexed equals bm25TopK row for row on the same corpus") {
    // the persisted-index contract behind qb3 sharing qb1's oracle: the
    // stored postings path must reproduce the scan path exactly
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana"),
      (4L, "durian apple")
    ).toDF("doc_id", "text")
    val qs = Seq((2L, "apple banana"), (4L, "cherry durian"))
      .toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_spec_idx")
      val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          qs, "q_id", "qtext", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      val indexed = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_spec_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      assert(direct.nonEmpty && direct.toSeq == indexed.toSeq,
        s"direct=${direct.toSeq} indexed=${indexed.toSeq}")
      // past the 256-term pushdown cap the probe falls back to the
      // broadcast semi-join — same rows: one more query carries 300
      // terms no document holds, so it ranks nothing on either path
      val wide = qs.union(Seq((99L, (0 until 300).map("nx" + _)
        .mkString(" "))).toDF("q_id", "qtext"))
      val fellBack = TextAnalysis.bm25TopKIndexed(wide, "q_id", "qtext",
          "bm25_spec_idx", k = 3)
      val fallback = fellBack
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      assert(!fellBack.queryExecution.executedPlan.toString
        .contains("In(term"), "the 301-term probe pushed an In list")
      assert(fallback.toSeq == direct.toSeq,
        s"fallback=${fallback.toSeq} direct=${direct.toSeq}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_spec_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_spec_idx_s")
    }
  }

  test("bm25TopKIndexed: a query side over the 65,536-term-row snapshot cap equals bm25TopK") {
    // 16,385 queries of 4 distinct terms = 65,540 term rows: the probe
    // side is lazily checkpointed and its 50 terms still pushed
    val docs = (0 until 40).map(i => (i.toLong,
        (0 until 6).map(j => s"w${(i * 7 + j * 3) % 50}").mkString(" ")))
      .toDF("doc_id", "text")
    val qs = spark.range(16385).select((col("id") + 1000L).as("q_id"),
      expr("concat_ws(' ', transform(sequence(0, 3), " +
        "j -> concat('w', cast(pmod(id * 5 + j * 11, 50) as string))))")
        .as("qtext"))
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_overcap_idx")
      val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          qs, "q_id", "qtext", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_overcap_idx", k = 3)
      assert(probe.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r
        }.isDefined, "the 65,540-row query side took the snapshot path")
      val indexed = probe.as[(Long, Long, Int, Long)].collect()
        .sortBy(r => (r._1, r._3))
      assert(direct.length == 16385 * 3 && direct.toSeq == indexed.toSeq,
        s"direct=${direct.take(6).toSeq} indexed=${indexed.take(6).toSeq}")
      assert(probe.queryExecution.executedPlan.toString.contains("In(term"),
        "the over-cap query side read every posting")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_overcap_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_overcap_idx_s")
    }
  }

  test("conjunctive BM25: only all-terms docs rank, surviving scores equal the disjunctive twin's, indexed == direct") {
    // the qe6 contract: conjunction is a pure FILTER on the shared
    // scoring tree — docs missing any query term drop, survivors keep
    // the exact disjunctive score (same summed weights), and the
    // persisted-index path equals the scan path row for row
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana"),
      (3L, "apple cherry"),
      (4L, "banana apple durian"),
      (5L, "apple")).toDF("doc_id", "text")
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    try {
      val conj = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          qs, "q_id", "qtext", k = 10, conjunctive = true)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      assert(conj.map(_._2).toSet == Set(1L, 2L, 4L),
        s"conjunctive matched ${conj.toSeq}")
      val disj = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          qs, "q_id", "qtext", k = 10)
        .as[(Long, Long, Int, Long)].collect()
      assert(disj.map(_._2).toSet == Set(1L, 2L, 3L, 4L, 5L),
        "the disjunctive twin should rank every apple/banana doc")
      val disjScores = disj.map(r => r._2 -> r._4).toMap
      assert(conj.forall(r => disjScores(r._2) == r._4),
        "conjunction changed a surviving doc's score")
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_conj_idx")
      val indexed = TextAnalysis.bm25TopKIndexed(qs, "q_id",
          "qtext", "bm25_conj_idx", k = 10, conjunctive = true)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      assert(indexed.toSeq == conj.toSeq,
        s"indexed=${indexed.toSeq} direct=${conj.toSeq}")
      // a query with an absent term matches nothing conjunctively
      val none = TextAnalysis.bm25TopKIndexed(
          Seq((8L, "apple zzz")).toDF("q_id", "qtext"), "q_id", "qtext",
          "bm25_conj_idx", k = 10, conjunctive = true)
        .as[(Long, Long, Int, Long)].collect()
      assert(none.isEmpty,
        s"absent-term conjunction should be empty, got ${none.toSeq}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_conj_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_conj_idx_s")
    }
  }

  test("BM25 generation protocol: two INTERLEAVED writers both land — rows first, commits in reverse order, probe equals the one-shot rebuild") {
    // appends are two-step (bucketed postings rows, then the 1-row
    // scalar-delta commit), and committed-set semantics make any
    // interleaving of two appends safe: each commit exposes only its
    // own generation, scalar deltas add in any order, and the final
    // state equals a one-shot rebuild over everything
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry")).toDF("doc_id", "text")
    // batch token counts are BY CONSTRUCTION: a = 3 + 2 tokens,
    // b = 3 + 2 tokens — the hand-computed commit deltas below
    val a = Seq((3L, "banana banana banana"), (4L, "durian apple"))
      .toDF("doc_id", "text")
    val b = Seq((5L, "cherry durian cherry"), (6L, "apple f"))
      .toDF("doc_id", "text")
    val union = base.unionByName(a).unionByName(b)
    val qs = Seq((9L, "apple banana"), (8L, "cherry durian"))
      .toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_ilv_idx")
      val (genA, genB) = (8001L, 8002L)
      TextAnalysis.appendPostingsOnly(a, "doc_id", "text",
        "bm25_ilv_idx", genA)
      TextAnalysis.appendPostingsOnly(b, "doc_id", "text",
        "bm25_ilv_idx", genB)
      TextAnalysis.commitBm25Gen(spark, "bm25_ilv_idx", genB, 2L, 5L)
      TextAnalysis.commitBm25Gen(spark, "bm25_ilv_idx", genA, 2L, 5L)
      TextAnalysis.writeBm25Index(union, "doc_id", "text", "bm25_ilv_ref")
      def probe(t: String) = TextAnalysis.bm25TopKIndexed(qs, "q_id",
          "qtext", t, k = 3)
        .as[(Long, Long, Int, Long)].collect()
        .sortBy(r => (r._1, r._3)).toSeq
      val ref = probe("bm25_ilv_ref")
      assert(ref.nonEmpty && probe("bm25_ilv_idx") == ref,
        "interleaved appends diverged from the one-shot rebuild")
    } finally {
      for (t <- Seq("bm25_ilv_idx", "bm25_ilv_idx_s",
          "bm25_ilv_ref", "bm25_ilv_ref_s"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("appendBm25Index: build+append equals a one-shot rebuild — postings, exact scalars, and ranking") {
    // the qc1 contract: appending a batch must leave the index
    // indistinguishable from rebuilding over the union — stored postings
    // row-identical, integer corpus scalars BIT-equal (long adds, no
    // float re-rounding), and the probe identical to the scan path
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry")).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "banana banana banana"),
      (4L, "durian apple")).toDF("doc_id", "text")
    val union = base.unionByName(batch)
    val qs = Seq((2L, "apple banana"), (9L, "cherry durian"))
      .toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_app_idx")
      TextAnalysis.appendBm25Index(batch, "doc_id", "text", "bm25_app_idx")
      TextAnalysis.writeBm25Index(union, "doc_id", "text", "bm25_full_idx")
      // stored rows identical MODULO the generation tag (append rows
      // carry their own gen; semantics live in the committed set)
      def rows(t: String) = spark.table(t).drop("gen")
        .as[(String, Long, Int, Long, Seq[Int])].collect()
        .map(r => (r._1, r._2, r._3, r._4, r._5.toList))
        .sortBy(r => (r._1, r._2)).toSeq // (term, doc_id) is unique
      assert(rows("bm25_app_idx") == rows("bm25_full_idx"))
      // scalars: committed deltas SUM to the one-shot build's totals
      // (exact long adds, order-independent)
      def scalars(t: String) = spark.table(t + "_s")
        .agg(org.apache.spark.sql.functions.sum("n_docs"),
          org.apache.spark.sql.functions.sum("sum_dl"))
        .as[(Long, Long)].head()
      assert(scalars("bm25_app_idx") == scalars("bm25_full_idx"))
      val direct = TextAnalysis.bm25TopK(union, "doc_id", "text",
          qs, "q_id", "qtext", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      val grown = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_app_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
      assert(direct.nonEmpty && grown.toSeq == direct.toSeq,
        s"grown=${grown.toSeq} direct=${direct.toSeq}")
      // appending to a non-index must fail loudly, not scribble files
      intercept[Exception] {
        TextAnalysis.appendBm25Index(batch, "doc_id", "text",
          "bm25_app_missing")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_app_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_app_idx_s")
      spark.sql("DROP TABLE IF EXISTS bm25_full_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_full_idx_s")
    }
  }

  test("appendBm25Index atomicity: a writer killed between steps leaves probes on the exact pre-append state") {
    // the generation protocol's whole point (r12 verdict #3): the
    // postings append lands UNCOMMITTED rows; until the single-row
    // scalar commit, probes must see the pre-append index bit for bit
    // — postings, scalars, and ranking. Completing the commit must
    // then flip probes to the full post-append state.
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry")).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "banana banana banana"),
      (4L, "durian apple")).toDF("doc_id", "text")
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_atom_idx")
      val pre = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_atom_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      // "crash" between step 2 and step 3: postings written, no commit
      val orphanGen = 777L
      TextAnalysis.appendPostingsOnly(batch, "doc_id", "text",
        "bm25_atom_idx", orphanGen)
      assert(spark.table("bm25_atom_idx")
        .filter(col("gen") === orphanGen).count() > 0,
        "orphan postings should physically exist")
      val mid = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_atom_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(mid == pre, s"uncommitted append leaked: mid=$mid pre=$pre")
      // the retry appends the batch under a FRESH generation and
      // commits it; the orphan stays invisible and must not
      // double-count anything
      TextAnalysis.appendBm25Index(batch, "doc_id", "text",
        "bm25_atom_idx")
      val post = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_atom_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      val direct = TextAnalysis.bm25TopK(base.unionByName(batch),
          "doc_id", "text", qs, "q_id", "qtext", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(post == direct, s"post=$post direct=$direct")
      // compaction physically reclaims the orphan generation
      TextAnalysis.compactBm25Index(spark, "bm25_atom_idx")
      assert(spark.table("bm25_atom_idx")
        .filter(col("gen") === orphanGen).count() == 0,
        "compaction should drop orphan rows")
      val compacted = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_atom_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(compacted == direct, s"compacted=$compacted direct=$direct")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_atom_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_atom_idx_s")
      spark.sql("DROP TABLE IF EXISTS bm25_atom_idx_t")
      spark.sql("DROP TABLE IF EXISTS bm25_atom_idx_compact_shadow")
    }
  }

  test("deleteBm25Docs: tombstoned docs leave rankings and scalars as if never indexed; replays never double-subtract") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana"),
      (4L, "durian apple")).toDF("doc_id", "text")
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_del_idx")
      TextAnalysis.deleteBm25Docs(spark, "bm25_del_idx",
        Seq(3L, 99L).toDF("doc_id"), "doc_id") // 99 not in the index
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_del_idx", k = 4)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      val direct = TextAnalysis.bm25TopK(docs.filter(col("doc_id") =!= 3L),
          "doc_id", "text", qs, "q_id", "qtext", k = 4)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(probe.nonEmpty && probe == direct,
        s"probe=$probe direct=$direct")
      def scalars() = spark.table("bm25_del_idx_s")
        .agg(org.apache.spark.sql.functions.sum("n_docs"),
          org.apache.spark.sql.functions.sum("sum_dl"))
        .as[(Long, Long)].head()
      val s1 = scalars()
      assert(s1 == ((3L, 7L)), s1) // 4 docs minus doc 3: 3 docs, 3+2+2 tokens
      // replaying the same delete (plus an absent id) must be a no-op
      TextAnalysis.deleteBm25Docs(spark, "bm25_del_idx",
        Seq(3L).toDF("doc_id"), "doc_id")
      assert(scalars() == s1, "replayed delete double-subtracted")
      val probe2 = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_del_idx", k = 4)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(probe2 == direct)
      // the phrase probe reads the same committed view: a deleted doc
      // must drop out of phrase verification too, not only BM25
      val phr = TextAnalysis.phraseMatchesIndexed(
          Seq((9L, "banana banana")).toDF("q_id", "qtext"),
          "q_id", "qtext", "bm25_del_idx")
        .as[(Long, Long, Long)].collect().toSet
      assert(!phr.exists(_._2 == 3L),
        s"deleted doc survived phrase verification: $phr")
      // compaction physically removes the tombstoned rows and clears
      // the tombstone table; probes unchanged
      TextAnalysis.compactBm25Index(spark, "bm25_del_idx")
      assert(!spark.catalog.tableExists("bm25_del_idx_t"))
      assert(spark.table("bm25_del_idx")
        .filter(col("doc_id") === 3L).count() == 0)
      val probe3 = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_del_idx", k = 4)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(probe3 == direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_del_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_del_idx_s")
      spark.sql("DROP TABLE IF EXISTS bm25_del_idx_t")
      spark.sql("DROP TABLE IF EXISTS bm25_del_idx_compact_shadow")
    }
  }

  test("compactBm25Index: compacted == appended == rebuilt, down to stored rows, and the probe reads ONE file generation") {
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry")).toDF("doc_id", "text")
    val b1 = Seq((3L, "banana banana banana")).toDF("doc_id", "text")
    val b2 = Seq((4L, "durian apple")).toDF("doc_id", "text")
    val union = base.unionByName(b1).unionByName(b2)
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    def tableDir(t: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    def dataFiles(t: String) = tableDir(t).listFiles()
      .count(f => f.getName.startsWith("part-"))
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_cmp_idx")
      TextAnalysis.appendBm25Index(b1, "doc_id", "text", "bm25_cmp_idx")
      TextAnalysis.appendBm25Index(b2, "doc_id", "text", "bm25_cmp_idx")
      TextAnalysis.writeBm25Index(union, "doc_id", "text", "bm25_cmp_ref")
      val before = dataFiles("bm25_cmp_idx")
      TextAnalysis.compactBm25Index(spark, "bm25_cmp_idx")
      val after = dataFiles("bm25_cmp_idx")
      assert(after < before, s"file count $before -> $after")
      assert(after == dataFiles("bm25_cmp_ref"),
        s"compacted files $after != rebuilt ${dataFiles("bm25_cmp_ref")}")
      // compacted rows are EXACTLY the one-shot rebuild's, gen included
      def rows(t: String) = spark.table(t)
        .as[(String, Long, Int, Long, Seq[Int], Long)].collect()
        .map(r => (r._1, r._2, r._3, r._4, r._5.toList, r._6))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(rows("bm25_cmp_idx") == rows("bm25_cmp_ref"))
      def scalars(t: String) = spark.table(t + "_s")
        .select("gen", "n_docs", "sum_dl")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(scalars("bm25_cmp_idx") == scalars("bm25_cmp_ref"))
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_cmp_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      val direct = TextAnalysis.bm25TopK(union, "doc_id", "text",
          qs, "q_id", "qtext", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(probe.nonEmpty && probe == direct)
      // a compactor killed inside the SCALAR collapse's swap window
      // (table_s dropped, its shadow complete — r17: the collapse is
      // swap-written, a drop+recreate window stranded the index):
      // probes heal it on first touch
      spark.sql("ALTER TABLE bm25_cmp_idx_s RENAME TO " +
        "bm25_cmp_idx_s_compact_shadow")
      val healed = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_cmp_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(healed == direct &&
        spark.catalog.tableExists("bm25_cmp_idx_s"),
        "the scalar-collapse swap window did not heal on probe")
      // the POLICY entry point hits the same window on first touch of
      // an unattended loop — it must heal the scalar table before its
      // threshold read, not throw table-not-found (the ADC sibling's
      // lock+heal discipline)
      spark.sql("ALTER TABLE bm25_cmp_idx_s RENAME TO " +
        "bm25_cmp_idx_s_compact_shadow")
      assert(!TextAnalysis.compactBm25Index(spark, "bm25_cmp_idx",
          maxGen = 64),
        "one compacted generation should not re-trip the threshold")
      assert(spark.catalog.tableExists("bm25_cmp_idx_s"),
        "compactBm25Index(maxGen) did not heal the scalar swap window")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_idx")
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_idx_s")
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_idx_t")
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_idx_compact_shadow")
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_idx_s_compact_shadow")
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_ref")
      spark.sql("DROP TABLE IF EXISTS bm25_cmp_ref_s")
    }
  }

  test("phraseMatches counts overlapping adjacent occurrences, excludes the query doc, drops 1-token queries") {
    val docs = Seq(
      (1L, "a b a b c"),   // "a b" at token positions 1 and 3
      (2L, "b a b"),       // "a b" once
      (3L, "c c"),         // never
      (4L, "a a a")        // "a a" overlapping: positions 1 and 2
    ).toDF("doc_id", "text")
    val qs = Seq((9L, "a b"), (1L, "a b x y"), (8L, "a a"), (7L, "solo"),
      (6L, "a b a")).toDF("q_id", "qtext")
    val out = TextAnalysis.phraseMatches(docs, "doc_id", "text",
        qs, "q_id", "qtext")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (9L, 1L, 2L), (9L, 2L, 1L),   // plain phrase counts
      (1L, 2L, 1L),                 // q 1 excludes doc 1 itself
      (8L, 4L, 2L),                 // overlapping self-pair counts both
      (6L, 1L, 2L), (6L, 2L, 1L)    // n=2 uses only the first two words
    ), out)
    // n=3: one more adjacency join in the chain. Only q 6 ("a b a") and
    // q 1 ("a b x") still have >= 3 tokens; "a b a" hits doc 1 once
    // (positions 0-2; the pos-2 run "a b c" breaks at c), "a b x" never
    val out3 = TextAnalysis.phraseMatches(docs, "doc_id", "text",
        qs, "q_id", "qtext", n = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out3 == Set((6L, 1L, 1L)), out3)
  }

  test("phraseMatchesIndexed equals phraseMatches on the candidate docs — pushdown, fallback, and n=3") {
    // qc2's indexed verification contract: for every (query, candidate
    // doc) pair the persisted-positions probe must reproduce the corpus
    // scan path exactly; docs outside the candidate set are the ONLY
    // rows allowed to differ (they are absent by design)
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "b a b"),
      (3L, "c c"),
      (4L, "a a a")
    ).toDF("doc_id", "text")
    val qs = Seq((9L, "a b"), (1L, "a b x y"), (8L, "a a"), (7L, "solo"),
      (6L, "a b a")).toDF("q_id", "qtext")
    val cands = Seq(1L, 2L, 3L).toDF("doc_id") // 4 deliberately excluded
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "phr_spec_idx")
      val scan = TextAnalysis.phraseMatches(docs, "doc_id", "text",
          qs, "q_id", "qtext")
        .filter(col("doc_id").isin(1L, 2L, 3L))
        .as[(Long, Long, Long)].collect().toSet
      val indexed = TextAnalysis.phraseMatchesIndexed(qs, "q_id", "qtext",
          "phr_spec_idx", cands, "doc_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(scan.nonEmpty && indexed == scan,
        s"indexed=$indexed scan=$scan")
      // doc 4 (excluded candidate) must not leak through the index path
      assert(!indexed.exists(_._2 == 4L), indexed)
      // terms-only (no candidate restriction, the qc2 shape): equals
      // the full corpus scan path over ALL docs
      val scanAll = TextAnalysis.phraseMatches(docs, "doc_id", "text",
          qs, "q_id", "qtext")
        .as[(Long, Long, Long)].collect().toSet
      val indexedAll = TextAnalysis.phraseMatchesIndexed(qs, "q_id",
          "qtext", "phr_spec_idx")
        .as[(Long, Long, Long)].collect().toSet
      assert(indexedAll == scanAll, s"indexedAll=$indexedAll scanAll=$scanAll")
      // past the 256-term pushdown cap: the broadcast semi-join
      // fallback must produce the same rows — 150 more two-word
      // queries carry 300 terms no document holds
      val wide = qs.union((0 until 150).map(i => (1000L + i, s"nx$i ny$i"))
        .toDF("q_id", "qtext"))
      val fellBack = TextAnalysis.phraseMatchesIndexed(wide, "q_id",
          "qtext", "phr_spec_idx", cands, "doc_id")
      val fallback = fellBack.as[(Long, Long, Long)].collect().toSet
      assert(!fellBack.queryExecution.executedPlan.toString
        .contains("In(term"), "the 300-term probe pushed an In list")
      assert(fallback == scan, s"fallback=$fallback scan=$scan")
      // n=3 adjacency chain over stored positions
      val scan3 = TextAnalysis.phraseMatches(docs, "doc_id", "text",
          qs, "q_id", "qtext", n = 3)
        .filter(col("doc_id").isin(1L, 2L, 3L))
        .as[(Long, Long, Long)].collect().toSet
      val indexed3 = TextAnalysis.phraseMatchesIndexed(qs, "q_id",
          "qtext", "phr_spec_idx", cands, "doc_id", n = 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(indexed3 == scan3, s"indexed3=$indexed3 scan3=$scan3")
    } finally {
      spark.sql("DROP TABLE IF EXISTS phr_spec_idx")
      spark.sql("DROP TABLE IF EXISTS phr_spec_idx_s")
    }
  }

  test("retrievalAgreement counts per-query leg sizes and intersections, zero-filling absent queries") {
    // q1: legs {10,20,30} vs {20,40} -> overlap 1; q2 only in leg A;
    // q3 only in leg B — both must surface with 0 for the missing side
    val a = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 50L))
      .toDF("q_id", "doc_id")
    val bLeg = Seq((1L, 20L), (1L, 40L), (3L, 60L))
      .toDF("q_id", "doc_id")
    val out = Similarity.retrievalAgreement(a, bLeg, "q_id", "doc_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 2L, 1L), (2L, 1L, 0L, 0L),
      (3L, 0L, 1L, 0L)), out.toSeq)
  }

  test("rrfFuse sums 1/(c+rank) across legs with exact nano-unit ties") {
    import spark.implicits._
    // leg A ranks 10,20,30; leg B ranks 20,40 -> doc 20 fuses both legs
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("q_id", "doc_id", "rank")
    val bLeg = Seq((1L, 20L, 1), (1L, 40L, 2))
      .toDF("q_id", "doc_id", "rank")
    def u(x: Double): Long = math.floor(x * 1e9).toLong
    val out = Similarity.rrfFuse(Seq(a, bLeg), "q_id", "doc_id", "rank",
        k = 3, c = 60)
      .as[(Long, Long, Int, Long)].collect().sortBy(_._3)
    assert(out.toSeq == Seq(
      (1L, 20L, 1, u(1.0 / 62 + 1.0 / 61)),
      (1L, 10L, 2, u(1.0 / 61)),
      (1L, 40L, 3, u(1.0 / 62))), out.toSeq)
  }

  test("under spark.sql.sources.default=orc every land stays parquet: BM25 and minhash append, delete and compact, and a sketch append, probe as under parquet") {
    // the persisted tiers create parquet tables (MapFiles.write); an
    // append or tombstone write that names no format takes the
    // session default, which Spark refuses against a parquet table (or
    // silently creates an ORC tombstone table)
    import graft.pipeline.{Dedup, Sketches}
    val docs = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "banana durian"), (4L, "durian apple"))
      .toDF("doc_id", "text")
    val more = Seq((5L, "cherry apple banana"), (6L, "apple banana"))
      .toDF("doc_id", "text")
    val gone = Seq(2L).toDF("doc_id")
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val vs = (1L to 600L).map(i => i * 7919L % 1000L + 1L)
    def provider(t: String) = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).provider
    def run(sfx: String): Seq[Seq[String]] = {
      val (bm, mh, sk) = (s"orc_bm_$sfx", s"orc_mh_$sfx", s"orc_sk_$sfx")
      def bmProbe() = TextAnalysis.bm25TopKIndexed(
          Seq((9L, "apple banana")).toDF("q_id", "qtext"), "q_id", "qtext",
          bm, k = 4)
        .toJSON.collect().sorted.toSeq
      def mhProbe() = Dedup.incrementalMinhashPairsIndexed(
          docs.unionByName(more),
          Seq((9L, "apple banana apple")).toDF("doc_id", "text"),
          "doc_id", "text", mh, n = 2, threshold = 0.3, numHashes = h,
          bands = b)
        .toJSON.collect().sorted.toSeq
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", bm)
      TextAnalysis.appendBm25Index(more, "doc_id", "text", bm)
      TextAnalysis.deleteBm25Docs(spark, bm, gone, "doc_id")
      assert(provider(bm + "_t") == Some("parquet"))
      val bmDeleted = bmProbe()
      TextAnalysis.compactBm25Index(spark, bm)
      Dedup.writeMinhashIndex(docs, "doc_id", "text", mh, n = 2,
        numHashes = h, bands = b)
      Dedup.appendMinhashIndex(more, "doc_id", "text", mh, n = 2,
        numHashes = h, bands = b)
      Dedup.deleteMinhashDocs(spark, mh, gone, "doc_id")
      assert(provider(mh + "_t") == Some("parquet"))
      val mhDeleted = mhProbe()
      Dedup.compactMinhashIndex(spark, mh)
      val (va, vb) = vs.splitAt(300)
      Sketches.writeSketchTable(va.toDF("v"), col("v"), sk)
      Sketches.appendSketchTable(vb.toDF("v"), col("v"), sk)
      Seq(bmDeleted, bmProbe(), mhDeleted, mhProbe(),
        Sketches.quantilesFromSketchTable(spark, sk, Seq(50, 90, 99))
          .toJSON.collect().sorted.toSeq)
    }
    try {
      val parquet = run("pq")
      assert(parquet.forall(_.nonEmpty), "vacuous gate: an empty probe")
      spark.conf.set("spark.sql.sources.default", "orc")
      try assert(run("orc") == parquet,
        "a probe under the orc default diverged from the parquet one")
      finally spark.conf.unset("spark.sql.sources.default")
    } finally
      for (x <- Seq("pq", "orc"); t <- Seq("orc_bm_", "orc_mh_", "orc_sk_");
          sfx <- Seq("", "_s", "_t", "_s_hwm", "_hwm"))
        spark.sql(s"DROP TABLE IF EXISTS `$t$x$sfx`")
  }
}

class MultimodalSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val docs = Seq((7L, "abc")).toDF("doc_id", "text")
  private val media = Multimodal.asMedia(docs, "doc_id", "text", "demo")

  test("asMedia carries payload bytes and typed metadata") {
    val r = media.select(col("media_id"), col("meta.kind"),
      col("meta.nBytes")).as[(Long, String, Long)].collect()(0)
    assert(r == ((7L, "demo", 3L)))
  }

  test("extractFeatures: stub decode is deterministic from payload bytes") {
    val f = Multimodal.extractFeatures(media).collect()(0)
    val s = 'a'.toInt + 'b'.toInt + 'c'.toInt // 294
    assert(f.media_id == 7L && f.n_bytes == 3 && f.byte_sum == s)
    assert(!f.decoded && f.channels == 0)
    assert(f.width == 16 + (s % 64) && f.height == 16 + ((s / 64) % 64))
  }

  // deterministic in-memory fixtures: the JDK's own writers produce the
  // bytes, its readers parse them back — real codec both ways
  private def imageBytes(w: Int, h: Int, imgType: Int, fmt: String)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("extractFeatures: REAL image headers decode width/height/channels") {
    val rgb = java.awt.image.BufferedImage.TYPE_INT_RGB
    val gray = java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val rows = Seq(
      (1L, imageBytes(20, 7, rgb, "png")),
      (2L, imageBytes(5, 9, gray, "png")),
      (3L, imageBytes(33, 17, rgb, "jpg")),
      (4L, "not an image".getBytes("UTF-8")))
    val mediaDf = rows.toDF("media_id", "payload")
      .withColumn("meta", struct(lit("image").as("kind"),
        length(col("payload")).cast("long").as("nBytes")))
    val out = Multimodal.extractFeatures(mediaDf).collect()
      .map(f => f.media_id -> f).toMap
    assert(out(1L).decoded && (out(1L).width, out(1L).height,
      out(1L).channels) == ((20, 7, 3)), out(1L))
    assert(out(2L).decoded && (out(2L).width, out(2L).height,
      out(2L).channels) == ((5, 9, 1)), out(2L))
    assert(out(3L).decoded && (out(3L).width, out(3L).height,
      out(3L).channels) == ((33, 17, 3)), out(3L))
    // unrecognized payloads fall back to the declared stub, loudly flagged
    assert(!out(4L).decoded && out(4L).channels == 0)
    assert(!out(4L).pixel_decoded && out(4L).ch_means.isEmpty)
    // the losslessly-coded payloads also pixel-decode for real
    assert(out(1L).pixel_decoded && out(2L).pixel_decoded)
  }

  test("extractFeatures: REAL pixel features (channel means + luminance histogram) for PNG and BMP") {
    // solid-color RGB PNG: exact per-channel means and a single hot
    // luminance bin — luma = (40*299 + 80*587 + 120*114)/1000 = 72
    val w = 8; val h = 4
    val solid = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      solid.setRGB(x, y, (40 << 16) | (80 << 8) | 120)
    // gray PNG: one band, value 200 everywhere -> bin 200/16 = 12
    val gray = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until w; y <- 0 until h)
      gray.getRaster.setSample(x, y, 0, 200)
    // BMP gradient: red = 10x (mean 35), green = 7, blue = 20y (mean 30)
    val grad = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (x <- 0 until w; y <- 0 until h)
      grad.setRGB(x, y, ((10 * x) << 16) | (7 << 8) | (20 * y))
    def bytes(img: java.awt.image.BufferedImage, fmt: String) = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val rows = Seq((1L, bytes(solid, "png")), (2L, bytes(gray, "png")),
      (3L, bytes(grad, "bmp")))
    val mediaDf = rows.toDF("media_id", "payload")
      .withColumn("meta", struct(lit("image").as("kind"),
        length(col("payload")).cast("long").as("nBytes")))
    val out = Multimodal.extractFeatures(mediaDf).collect()
      .map(f => f.media_id -> f).toMap
    assert(out(1L).pixel_decoded &&
      out(1L).ch_means == Seq(40.0, 80.0, 120.0), out(1L))
    assert(out(1L).lum_hist(72 / 16) == w.toLong * h &&
      out(1L).lum_hist.sum == w.toLong * h, out(1L))
    assert(out(2L).pixel_decoded && out(2L).ch_means == Seq(200.0) &&
      out(2L).lum_hist(12) == w.toLong * h, out(2L))
    assert(out(3L).pixel_decoded &&
      out(3L).ch_means == Seq(35.0, 7.0, 30.0), out(3L))
    // the histogram always partitions the pixels, whatever the content
    assert(out(3L).lum_hist.sum == w.toLong * h, out(3L))
  }

  test("palette-indexed images resolve through the ColorModel, not raw palette indices") {
    // an all-white GIF whose color table stores white at INDEX 0: raw
    // raster samples are all 0 (pitch black if misread as intensities);
    // the color-model path must report white regardless of slot order
    val w = 6; val h = 5
    val cm = new java.awt.image.IndexColorModel(8, 2,
      Array[Byte](-1, 0), Array[Byte](-1, 0), Array[Byte](-1, 0))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    // raster already all zeros = palette slot 0 = white
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos), "no gif writer")
    val px = Multimodal.decodePixelFeatures(bos.toByteArray)
    assert(px.isDefined)
    val (means, hist) = px.get
    assert(means.toSeq == Seq(255.0, 255.0, 255.0), means.toSeq)
    assert(hist(15) == w.toLong * h && hist.sum == w.toLong * h,
      hist.toSeq)
  }

  test("WAV round-trip: the RIFF parse recovers exactly the container parameters") {
    val pcm = Array.tabulate[Byte](320)(i => (i % 251).toByte)
    val wav = Multimodal.wavBytes(pcm, 8000, 2, 16) // blockAlign 4 -> 80 frames
    assert(Multimodal.decodeWavHeader(wav)
      .contains(Multimodal.WavMeta(8000, 2, 16, 80)))
    // odd-length data floors the frame count
    val mono = Multimodal.wavBytes(Array[Byte](1, 2, 3, 4, 5), 44100, 1, 16)
    assert(Multimodal.decodeWavHeader(mono)
      .contains(Multimodal.WavMeta(44100, 1, 16, 2)))
    // non-WAV payloads are None, never garbage
    assert(Multimodal.decodeWavHeader("RIFFxxxx".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeWavHeader("plain text here".getBytes("UTF-8")).isEmpty)
  }

  test("WAV parse agrees with the JDK's own javax.sound reader") {
    val wav = Multimodal.wavBytes(Array.fill[Byte](96)(3), 8000, 2, 16)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val f = ais.getFormat
    val mine = Multimodal.decodeWavHeader(wav).get
    assert(f.getSampleRate == mine.sampleRate.toFloat &&
      f.getChannels == mine.channels &&
      f.getSampleSizeInBits == mine.bitsPerSample &&
      ais.getFrameLength == mine.nFrames.toLong)
  }

  test("WAV parse rejects compressed containers and survives hostile chunk sizes") {
    // MP3-in-RIFF (audioFormat 0x55): blockAlign is not bytes-per-frame,
    // so the parser must decline rather than report a garbage frame count
    val pcm = Multimodal.wavBytes(Array.fill[Byte](40)(1), 16000, 1, 16)
    val compressed = pcm.clone()
    compressed(20) = 0x55.toByte // fmt chunk's audioFormat field, LE low byte
    assert(Multimodal.decodeWavHeader(compressed).isEmpty)
    // unsigned 32-bit chunk size near 2^32: Int truncation would freeze
    // or reverse the chunk walk (infinite loop); Long math must return
    val hostile = pcm.clone()
    java.nio.ByteBuffer.wrap(hostile)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 0xFFFFFFF8) // fmt chunk size field
    assert(Multimodal.decodeWavHeader(hostile).isEmpty)
    // a truncated fmt chunk (declared size < 16) would read the NEXT
    // chunk's bytes as format fields — must be rejected, not parsed
    val shortFmt = pcm.clone()
    java.nio.ByteBuffer.wrap(shortFmt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 8) // fmt declares 8 bytes: too short for the fields
    assert(Multimodal.decodeWavHeader(shortFmt).isEmpty)
  }

  test("WAV parse walks past foreign chunks (LIST before fmt)") {
    val base = Multimodal.wavBytes(Array.fill[Byte](40)(1), 16000, 1, 16)
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = base.take(12) ++ list ++ base.drop(12)
    java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, spliced.length - 8) // fix the RIFF size field
    assert(Multimodal.decodeWavHeader(spliced)
      .contains(Multimodal.WavMeta(16000, 1, 16, 20)))
  }

  test("animated GIF frames decode with real per-frame dimensions") {
    // build a 3-frame animated GIF with the JDK's own writer
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (i <- 1 to 3) {
      val img = new java.awt.image.BufferedImage(10 + i, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val frames = Multimodal.decodeGifFrames(bos.toByteArray)
    assert(frames.contains(Seq((11, 6), (12, 6), (13, 6))), frames)
    // non-GIF payloads (even valid images) decline
    assert(Multimodal.decodeGifFrames(
      imageBytes(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB, "png")).isEmpty)
    assert(Multimodal.decodeGifFrames("not media".getBytes("UTF-8")).isEmpty)
  }

  test("frameSampleStub explodes fixed-size frames with positions") {
    val doc = Seq((1L, "x" * 100)).toDF("doc_id", "text") // 100 bytes
    val m = Multimodal.asMedia(doc, "doc_id", "text", "demo")
    val frames = Multimodal.frameSampleStub(m, everyK = 1)
      .select("frame_no", "frame").as[(Int, String)].collect().sortBy(_._1)
    // hex of 100 bytes = 200 chars -> 12 full 16-char frames + 8-char tail
    assert(frames.length == 13)
    assert(frames.init.forall(_._2.length == 16))
    assert(frames.last._2.length == 8)
    assert(frames.map(_._1).toSeq == (0 until 13))
  }

  test("resizeStub truncates payloads") {
    val out = Multimodal.resizeStub(media, 2)
      .select(length(col("payload"))).as[Int].collect()(0)
    assert(out == 2)
  }
}

class SamplesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  import graft.pipeline.Samples

  private val docs = (1L to 500L).map(i => (i, s"doc $i"))

  test("hashSampleTopK: deterministic, partition-independent, and the min-k merge law holds") {
    val df = docs.toDF("doc_id", "text")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Samples.hashSampleTopK(d, "doc_id", 20)
        .as[(Long, Long)].collect().toSeq
    val s1 = sample(df)
    assert(s1.size == 20 && s1 == s1.sortBy(r => (r._2, r._1)))
    // a pure function of the ids: partitioning cannot change it
    assert(sample(df.repartition(7)) == s1)
    // min-k(A ∪ B) == min-k over the partial min-k's
    val (a, b) = docs.splitAt(300)
    val partials = sample(a.toDF("doc_id", "text")) ++
      sample(b.toDF("doc_id", "text"))
    assert(partials.sortBy(r => (r._2, r._1)).take(20) == s1)
  }

  test("persisted sample: build+append+compact == one-shot; duplicate generations cannot change the sample (idempotent by algebra)") {
    val (a, b) = docs.splitAt(300)
    def tableDir(t: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    def dataFiles(t: String) = tableDir(t).listFiles()
      .count(f => f.getName.startsWith("part-"))
    try {
      Samples.writeSampleTable(a.toDF("doc_id", "text"), "doc_id", 20,
        "smp_lc_t")
      Samples.appendSampleTable(b.toDF("doc_id", "text"), "doc_id", 20,
        "smp_lc_t")
      def probe() = Samples.sampleFromTable(spark, "smp_lc_t", 20)
        .as[(Long, Long)].collect().toSeq
      val oneShot = Samples.hashSampleTopK(
          docs.toDF("doc_id", "text"), "doc_id", 20)
        .as[(Long, Long)].collect().toSeq
      assert(oneShot.size == 20 && probe() == oneShot)
      // an UNKEYED duplicate generation (the replay the batch keys
      // exist to avoid storing): id-dedup makes the min-k immune
      Samples.appendSampleTable(b.toDF("doc_id", "text"), "doc_id", 20,
        "smp_lc_t")
      assert(probe() == oneShot,
        "a duplicated candidate generation changed the sample")
      // the keyed streamed path skips the replay entirely
      Samples.streamAppendSampleBatch(b.toDF("doc_id", "text"), 7L,
        "doc_id", 20, "smp_lc_t")
      val afterKeyed = spark.table("smp_lc_t").count()
      Samples.streamAppendSampleBatch(b.toDF("doc_id", "text"), 7L,
        "doc_id", 20, "smp_lc_t")
      assert(spark.table("smp_lc_t").count() == afterKeyed,
        "a keyed replay landed a duplicate file")
      assert(probe() == oneShot)
      // compaction: the table becomes the sample itself — one file,
      // exactly k rows, probe unchanged
      Samples.compactSampleTable(spark, "smp_lc_t", 20)
      assert(dataFiles("smp_lc_t") == 1)
      assert(spark.table("smp_lc_t").count() == 20)
      assert(probe() == oneShot)
      // probing deeper than the maintenance cut REFUSES: ranks beyond
      // each generation's k were discarded at append time, so a deeper
      // probe would be silently wrong — kcap makes it loud instead
      val e = intercept[IllegalArgumentException] {
        Samples.sampleFromTable(spark, "smp_lc_t", 21)
      }
      assert(e.getMessage.contains("kcap"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS smp_lc_t")
      spark.sql("DROP TABLE IF EXISTS smp_lc_t_compact_shadow")
    }
  }

  test("stratified maintained sample: per-group min-k, build+append+compact == one-shot, every group represented") {
    val rows = docs.map { case (id, t) =>
      (s"src${id % 4}", id, t)
    }
    val (a, b) = rows.splitAt(300)
    try {
      Samples.writeSampleTable(
        a.toDF("source", "doc_id", "text"), "doc_id", 5, "gsmp_lc_t",
        group = Some("source"))
      Samples.appendSampleTable(
        b.toDF("source", "doc_id", "text"), "doc_id", 5, "gsmp_lc_t",
        group = Some("source"))
      Samples.compactSampleTable(spark, "gsmp_lc_t", 5)
      val probed = Samples.sampleFromTable(spark, "gsmp_lc_t", 5)
        .as[(String, Long, Long)].collect().sorted.toSeq
      val oneShot = Samples.hashSampleTopK(
        rows.toDF("source", "doc_id", "text"), "doc_id", 5,
        group = Some("source"))
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(probed == oneShot)
      assert(probed.map(_._1).distinct.size == 4, "a source vanished")
      assert(probed.groupBy(_._1).values.forall(_.size == 5))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gsmp_lc_t")
      spark.sql("DROP TABLE IF EXISTS gsmp_lc_t_compact_shadow")
    }
  }

  test("interleaved appenders on the additive tables: merged state is order-independent (exact integer sums)") {
    // the qe interleave spec's claim, on the MergeTables SUM tier:
    // two writers' batch appends landing in either interleaving yield
    // the same merged view (sums commute), so the additive tables need
    // no writer coordination for appends — only the batch keys for
    // streamed replays
    import graft.pipeline.Sketches
    val a = (1 to 400).map(i => (i.toLong * 7919) % 5000L + 1L)
    val b = (1 to 400).map(i => (i.toLong * 104729) % 5000L + 1L)
    val c = (1 to 400).map(i => (i.toLong * 15485863) % 5000L + 1L)
    def mergedOf(order: Seq[Seq[Long]], t: String) = {
      Sketches.writeSketchTable(Seq(1L).toDF("v"), col("v"), t)
      order.foreach(batch =>
        Sketches.appendSketchTable(batch.toDF("v"), col("v"), t))
      spark.table(t).groupBy("b_low", "b_high")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .as[(Long, Long, Long)].collect().sorted.toSeq
    }
    try {
      val abc = mergedOf(Seq(a, b, c), "sk_il_1")
      val cba = mergedOf(Seq(c, b, a), "sk_il_2")
      val bac = mergedOf(Seq(b, a, c), "sk_il_3")
      assert(abc.nonEmpty && abc == cba && abc == bac)
    } finally {
      for (t <- Seq("sk_il_1", "sk_il_2", "sk_il_3"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}

class SketchesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  import graft.pipeline.Sketches

  // deterministic pseudo-random positive longs spanning several octaves
  private val vals: Seq[Long] =
    (1 to 2000).map(i => (i.toLong * 2654435761L) % 1000000L + 1L)

  test("logBucketCounts: counts merge additively across splits (the mergeability law)") {
    val (a, b) = vals.splitAt(700)
    def sk(v: Seq[Long]) = Sketches.logBucketCounts(
        v.toDF("v"), col("v"))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val merged = (sk(a).keySet ++ sk(b).keySet).map(k =>
      k -> (sk(a).getOrElse(k, 0L) + sk(b).getOrElse(k, 0L))).toMap
    assert(sk(vals) == merged, "sketch(A ∪ B) != sketch(A) + sketch(B)")
  }

  test("logBucketCounts: bucket bounds are ordered, disjoint, and within the 2^-subBits relative-width guarantee") {
    val bks = Sketches.logBucketCounts(vals.toDF("v"), col("v"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(bks.nonEmpty && bks.map(_._3).sum == vals.size)
    bks.foreach { case (lo, hi, _) =>
      assert(lo <= hi)
      // width guarantee: exact below 2^(s+1); above, (hi-lo+1) is the
      // bucket's power-of-two span p with lo >= 2^s * p
      assert(hi == lo || (hi - lo + 1) * (1L << Sketches.defaultSubBits)
        <= lo, s"bucket ($lo,$hi) too wide")
    }
    // disjoint + ordered: each bucket starts past its predecessor's end
    bks.sliding(2).foreach {
      case Seq((_, h1, _), (l2, _, _)) => assert(l2 > h1)
      case _ =>
    }
  }

  test("logBucketQuantiles: every estimate BRACKETS the exact order statistic") {
    val pcts = Seq(10, 50, 90, 99, 100)
    val est = Sketches.logBucketQuantiles(vals.toDF("v"), col("v"), pcts)
      .as[(Int, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(est.keySet == pcts.toSet)
    val sorted = vals.sorted
    pcts.foreach { p =>
      val (target, lo, hi) = est(p)
      val wantRank = (p.toLong * vals.size + 99) / 100
      assert(target == wantRank, s"p$p target $target != $wantRank")
      val exact = sorted((target - 1).toInt)
      assert(lo <= exact && exact <= hi,
        s"p$p: exact $exact outside [$lo, $hi]")
    }
  }

  test("logBucketQuantiles with a group: per-group estimates bracket each group's exact order statistic") {
    // qe7's law: the grouped sketch is the ungrouped sketch applied
    // within each key — estimates bracket each group's own exact
    // percentile, and a group never sees another group's values
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", v)
    }
    val est = graft.pipeline.Sketches.logBucketQuantiles(
      rows.toDF("g", "v"), col("v"), Seq(50, 99), group = Some(col("g")))
      .as[(String, Int, Long, Long, Long)].collect()
    assert(est.map(_._1).toSet == Set("a", "b", "c"))
    val byGroup = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted
    }
    est.foreach { case (g, p, target, lo, hi) =>
      val sorted = byGroup(g)
      assert(target == (p.toLong * sorted.size + 99) / 100)
      val exact = sorted((target - 1).toInt)
      assert(lo <= exact && exact <= hi,
        s"group $g p$p: exact $exact outside [$lo, $hi]")
      // cross-check vs the ungrouped sketch on the group's own rows
      val solo = graft.pipeline.Sketches.logBucketQuantiles(
          sorted.toDF("v"), col("v"), Seq(p))
        .as[(Int, Long, Long, Long)].collect()(0)
      assert((solo._2, solo._3, solo._4) == ((target, lo, hi)),
        s"group $g p$p diverged from the ungrouped sketch")
    }
  }

  test("persisted sketch: build+append probes equal the one-shot sketch; append leaves the stored side unread") {
    // qe8's law, the additive-merge face: a grown sketch table's
    // probe-time merged counts are bit-equal to one pass over the
    // union, and the stored rows are per-generation bucket counts
    // (the build's plus the batch's own), never a rewritten merge
    val (a, b) = vals.splitAt(900)
    try {
      graft.pipeline.Sketches.writeSketchTable(
        a.toDF("v"), col("v"), "sk_app_t")
      graft.pipeline.Sketches.appendSketchTable(
        b.toDF("v"), col("v"), "sk_app_t")
      val probed = graft.pipeline.Sketches.quantilesFromSketchTable(
          spark, "sk_app_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = graft.pipeline.Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot)
      // two generations stored; summed counts == union counts
      assert(spark.table("sk_app_t").select("gen").distinct().count() == 2)
      val merged = spark.table("sk_app_t").groupBy("b_low", "b_high")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val direct = graft.pipeline.Sketches.logBucketCounts(
          vals.toDF("v"), col("v"))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(merged == direct)
      // appending to a missing table fails loudly
      intercept[Exception] {
        graft.pipeline.Sketches.appendSketchTable(
          b.toDF("v"), col("v"), "sk_missing_t")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_app_t")
    }
  }

  test("logBucketQuantiles: small values are exact (width-1 buckets)") {
    // all values < 2^(subBits+1) -> every bucket is a single value and
    // the sketch degenerates to exact percentiles
    val small = (1 to 500).map(i => (i % 30 + 1).toLong)
    val est = Sketches.logBucketQuantiles(
        small.toDF("v"), col("v"), Seq(50, 99))
      .as[(Int, Long, Long, Long)].collect()
    est.foreach { case (p, target, lo, hi) =>
      assert(lo == hi, s"p$p bucket not exact")
      assert(lo == small.sorted.apply((target - 1).toInt))
    }
  }

  test("logBucketCounts: domain [0, 2^62) is enforced — zero is an exact bucket, out-of-domain values fail loudly") {
    // 0 is legitimate (bit length 1 in BOTH engines — bin(0) and
    // printf('%b',0) are "0" — so it's its own width-1 bucket; real
    // data hits it: sf0.1 events quantize 6 rows to exactly 0).
    // Negative values would silently mis-bucket (Spark's div truncates
    // toward zero, DuckDB's // floors, and the bracket would not
    // contain the value); >= 2^62 wraps b_high through Long overflow.
    // Those must raise, not corrupt.
    val withZero = Sketches.logBucketCounts(
        Seq(0L, 0L, 1L, 5L).toDF("v"), col("v"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(withZero.head == ((0L, 0L, 2L)), "zero not its own exact bucket")
    for (bad <- Seq(-1L, -100L, 1L << 62, Long.MaxValue)) {
      val e = intercept[Exception] {
        Sketches.logBucketCounts(Seq(bad, 3L).toDF("v"), col("v"))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("log-bucket sketch domain")),
        s"out-of-domain $bad did not raise the domain error")
    }
  }

  test("retractSketchTable: additive retraction — probe equals a one-shot over the survivors, cancelled buckets vanish, over-retraction raises") {
    // the approximate tier's delete: retracted rows' counts land
    // NEGATED and the probe-time sum cancels them exactly (no
    // tombstones — the sketch's own algebra IS the delete mechanism)
    val retract = vals.filter(_ % 5 == 2)
    val survive = vals.filterNot(_ % 5 == 2)
    assert(retract.nonEmpty && survive.nonEmpty)
    try {
      Sketches.writeSketchTable(vals.toDF("v"), col("v"), "sk_ret_t")
      Sketches.retractSketchTable(retract.toDF("v"), col("v"), "sk_ret_t")
      val probed = Sketches.quantilesFromSketchTable(
          spark, "sk_ret_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          survive.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot)
      // merged-bucket view == survivors' sketch exactly — including a
      // FULLY-cancelled bucket vanishing rather than lingering at 0:
      // retract every member of the smallest populated bucket too
      val direct = Sketches.logBucketCounts(
          survive.toDF("v"), col("v"))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val merged = spark.table("sk_ret_t").groupBy("b_low", "b_high")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .filter(col("cnt") > 0).as[(Long, Long, Long)]
        .collect().sorted.toSeq
      assert(merged == direct)
      val (lo, hi, _) = direct.head
      val inBucket = survive.filter(v => v >= lo && v <= hi)
      Sketches.retractSketchTable(inBucket.toDF("v"), col("v"),
        "sk_ret_t")
      val afterFull = Sketches.quantilesFromSketchTable(
          spark, "sk_ret_t", Seq(50)).collect()
      val expect = Sketches.logBucketQuantiles(
          survive.filterNot(v => v >= lo && v <= hi).toDF("v"),
          col("v"), Seq(50)).collect()
      assert(afterFull.toSeq == expect.toSeq,
        "fully-cancelled bucket left residue in the estimate")
      // retracting rows never added -> negative merged count -> LOUD
      Sketches.retractSketchTable(inBucket.toDF("v"), col("v"),
        "sk_ret_t")
      val e = intercept[Exception] {
        Sketches.quantilesFromSketchTable(spark, "sk_ret_t", Seq(50))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("negative merged count")),
        "over-retraction did not raise")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_ret_t")
    }
  }

  test("grouped persisted sketch: append+retract+compact per group == one-shot grouped sketch over the survivors") {
    // qf7's law — the grouped tier rides the same additive algebra,
    // per (g, bucket) key
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", v)
    }
    val (x, y) = rows.splitAt(900)
    val retract = rows.filter(_._2 % 5 == 2)
    val survive = rows.filterNot(_._2 % 5 == 2)
    try {
      Sketches.writeSketchTable(
        x.toDF("g", "v"), col("v"), "gsk_lc_t", group = Some(col("g")))
      Sketches.appendSketchTable(
        y.toDF("g", "v"), col("v"), "gsk_lc_t", group = Some(col("g")))
      Sketches.retractSketchTable(
        retract.toDF("g", "v"), col("v"), "gsk_lc_t", group = Some(col("g")))
      Sketches.compactSketchTable(spark, "gsk_lc_t")
      val probed = Sketches.quantilesFromSketchTable(
        spark, "gsk_lc_t", Seq(50, 99))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
        survive.toDF("g", "v"), col("v"), Seq(50, 99), group = Some(col("g")))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.map(_._1).toSet == Set("a", "b", "c"))
      assert(probed == oneShot,
        "maintained grouped sketch diverged from the one-shot")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gsk_lc_t")
      spark.sql("DROP TABLE IF EXISTS gsk_lc_t_compact_shadow")
    }
  }

  test("compactSketchTable: compacted == appended+retracted == rebuilt, one file generation remains, cancelled buckets physically dropped") {
    val (a, b) = vals.splitAt(900)
    val retract = vals.filter(_ % 5 == 2)
    val survive = vals.filterNot(_ % 5 == 2)
    def tableDir(t: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    def dataFiles(t: String) = tableDir(t).listFiles()
      .count(f => f.getName.startsWith("part-"))
    try {
      Sketches.writeSketchTable(a.toDF("v"), col("v"), "sk_cmp_t")
      Sketches.appendSketchTable(b.toDF("v"), col("v"), "sk_cmp_t")
      Sketches.retractSketchTable(retract.toDF("v"), col("v"),
        "sk_cmp_t")
      Sketches.writeSketchTable(survive.toDF("v"), col("v"),
        "sk_cmp_ref")
      val preProbe = Sketches.quantilesFromSketchTable(
          spark, "sk_cmp_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val before = dataFiles("sk_cmp_t")
      Sketches.compactSketchTable(spark, "sk_cmp_t")
      val after = dataFiles("sk_cmp_t")
      assert(before == 3 && after == 1,
        s"file generations $before -> $after (expected 3 -> 1)")
      // compacted stored rows are EXACTLY the one-shot rebuild's —
      // gen 0, batch_key -1, cancelled buckets physically gone
      def rows(t: String) = spark.table(t)
        .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
      assert(rows("sk_cmp_t") == rows("sk_cmp_ref"))
      val postProbe = Sketches.quantilesFromSketchTable(
          spark, "sk_cmp_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(postProbe.nonEmpty && postProbe == preProbe)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_cmp_t")
      spark.sql("DROP TABLE IF EXISTS sk_cmp_t_compact_shadow")
      spark.sql("DROP TABLE IF EXISTS sk_cmp_ref")
    }
  }

  test("retireGroupsBefore: retained profile == one-shot over the surviving window; expired groups physically gone after compaction") {
    // the qfa retention story (r14 verdict item 3): hour-keyed state
    // cannot grow one group per hour forever. Retirement retracts the
    // expired groups' own merged counts from stored state (no corpus
    // read), probes lose them immediately, compaction removes them
    // physically, and surviving groups are untouched bit for bit.
    val rows = (1 to 1200).map(i =>
      (i.toLong % 10, (i.toLong * 2654435761L) % 100000L + 1L))
    val (a, b) = rows.splitAt(600)
    try {
      Sketches.writeSketchTable(a.toDF("g", "v"), col("v"), "gsk_ret_t",
        group = Some(col("g")))
      Sketches.appendSketchTable(b.toDF("g", "v"), col("v"), "gsk_ret_t",
        group = Some(col("g")))
      Sketches.retireGroupsBefore(spark, "gsk_ret_t", 4L)
      def probe() = Sketches.quantilesFromSketchTable(
          spark, "gsk_ret_t", Seq(50, 99))
        .as[(Long, Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
        rows.filter(_._1 >= 4L).toDF("g", "v"), col("v"), Seq(50, 99),
        group = Some(col("g")))
        .as[(Long, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.map(_._1).distinct.sorted == (4L to 9L))
      assert(probe() == oneShot,
        "retained profile diverged from the one-shot surviving window")
      // idempotent: a second retirement finds nothing left
      Sketches.retireGroupsBefore(spark, "gsk_ret_t", 4L)
      assert(probe() == oneShot)
      // compaction removes the expired groups PHYSICALLY
      Sketches.compactSketchTable(spark, "gsk_ret_t")
      assert(spark.table("gsk_ret_t").filter(col("g") < 4L).count() == 0,
        "expired groups still on disk after compaction")
      assert(probe() == oneShot)
      // LATE data arriving AFTER its group was retired: the +1 lands
      // (retention is a policy, not a wall), the group reappears with
      // ONLY the late counts, and re-running the policy re-expires it
      // — retention is re-applied by the maintenance loop, exactly
      // like compaction
      val late = Seq((2L, 42L), (2L, 77L))
      Sketches.appendSketchTable(late.toDF("g", "v"), col("v"), "gsk_ret_t",
        group = Some(col("g")))
      val lateProbe = Sketches.quantilesFromSketchTable(
        spark, "gsk_ret_t", Seq(50, 99))
        .as[(Long, Int, Long, Long, Long)].collect().sorted.toSeq
      val lateOneShot = Sketches.logBucketQuantiles(
        (rows.filter(_._1 >= 4L) ++ late).toDF("g", "v"), col("v"),
        Seq(50, 99), group = Some(col("g")))
        .as[(Long, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(lateProbe == lateOneShot,
        "late arrival into a retired group did not land exactly")
      Sketches.retireGroupsBefore(spark, "gsk_ret_t", 4L)
      assert(probe() == oneShot,
        "re-applied retention did not re-expire the late group")
      // the categorical-key form: retire a NAMED surviving group and
      // the profile equals the one-shot without it (takedown on this
      // tier, the qfe story)
      Sketches.retireGroups(spark, "gsk_ret_t", Seq(7L))
      val without7 = Sketches.logBucketQuantiles(
        rows.filter(r => r._1 >= 4L && r._1 != 7L).toDF("g", "v"), col("v"),
        Seq(50, 99), group = Some(col("g")))
        .as[(Long, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(probe() == without7,
        "named-group takedown diverged from the one-shot without it")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gsk_ret_t")
      spark.sql("DROP TABLE IF EXISTS gsk_ret_t_compact_shadow")
    }
  }

  test("compactSketchTable(maxGen): no-op at or below maxGen, compacts above, probe unchanged") {
    import graft.pipeline.MergeTables
    val parts = vals.grouped(500).toSeq // 4 batches
    try {
      Sketches.writeSketchTable(parts.head.toDF("v"), col("v"),
        "sk_auto_t")
      parts.tail.foreach(p =>
        Sketches.appendSketchTable(p.toDF("v"), col("v"), "sk_auto_t"))
      assert(MergeTables.generationCount(spark, "sk_auto_t") == 4L)
      val preProbe = Sketches.quantilesFromSketchTable(
          spark, "sk_auto_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      // at the threshold: a no-op (generations untouched)
      assert(!Sketches.compactSketchTable(spark, "sk_auto_t", 4))
      assert(MergeTables.generationCount(spark, "sk_auto_t") == 4L)
      // above it: compacts to one generation, probe bit-identical
      assert(Sketches.compactSketchTable(spark, "sk_auto_t", 3))
      assert(MergeTables.generationCount(spark, "sk_auto_t") == 1L)
      val postProbe = Sketches.quantilesFromSketchTable(
          spark, "sk_auto_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(postProbe == preProbe)
      // idempotent from here: the compacted table sits below any sane
      // threshold, so a maintenance loop's repeated calls do nothing
      assert(!Sketches.compactSketchTable(spark, "sk_auto_t", 3))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_auto_t")
      spark.sql("DROP TABLE IF EXISTS sk_auto_t_compact_shadow")
    }
  }

  /** One table swapped by the one generation protocol
    * (MergeTables.swapInKeyed, healed by recoverCompactCrash): `tier`
    * names it in the test title, `table` is the swapped table; `build` writes its tier and appends once, so
    * compaction has generations to fold; `probe` is the tier's read
    * (the crash heal's first touch), as sorted strings; `grow` appends
    * one more batch (the heal's other touch); `compact` runs the
    * tier's compactor, which swaps `table`. */
  private case class SwapCase(tier: String, table: String,
      build: () => Unit,
      probe: () => Seq[String], grow: () => Unit, compact: () => Unit,
      drop: () => Unit)

  // every frame is built inside the closures, at test time
  private val swapCases: Seq[SwapCase] = {
    import graft.pipeline.{Dedup, Similarity, TextAnalysis}
    def docs = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "banana durian"), (4L, "durian apple"))
      .toDF("doc_id", "text")
    def moreDocs = Seq((5L, "cherry apple banana"),
      (6L, "durian durian")).toDF("doc_id", "text")
    val grown = new java.util.concurrent.atomic.AtomicLong(100L)
    def nextDoc() = Seq((grown.incrementAndGet(), "apple fig"))
      .toDF("doc_id", "text")
    def drop(ts: String*): Unit =
      for (t <- ts; shadow <- Seq("", "_compact_shadow"))
        spark.sql(s"DROP TABLE IF EXISTS `$t$shadow`")
    def bm25(tier: String, table: String) = SwapCase(tier, table,
      build = () => {
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", "sw_bm")
        TextAnalysis.appendBm25Index(moreDocs, "doc_id", "text", "sw_bm")
      },
      probe = () => TextAnalysis.bm25TopKIndexed(
          Seq((9L, "apple banana")).toDF("q_id", "qtext"), "q_id",
          "qtext", "sw_bm", k = 3)
        .toJSON.collect().sorted.toSeq,
      grow = () =>
        TextAnalysis.appendBm25Index(nextDoc(), "doc_id", "text", "sw_bm"),
      compact = () => TextAnalysis.compactBm25Index(spark, "sw_bm"),
      drop = () => drop("sw_bm", "sw_bm_s", "sw_bm_t", "sw_bm_s_hwm"))
    def vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    def adc(tier: String, table: String) = SwapCase(tier, table,
      build = () => {
        Similarity.writeIvfAdcIndexSharded(
          vecs.filter(col("vec_id") < 60), "vec_id", "embedding", "sw_adc")
        Similarity.appendIvfAdcIndexSharded(
          vecs.filter(col("vec_id") >= 60), "vec_id", "embedding", "sw_adc")
      },
      probe = () => AdcKit.probe(vecs.filter(col("vec_id") % 25 === 0),
        "sw_adc").map(_.toString),
      grow = () => Similarity.appendIvfAdcIndexSharded(
        vecs.filter(col("vec_id") === 7)
          .withColumn("vec_id", lit(grown.incrementAndGet())),
        "vec_id", "embedding", "sw_adc"),
      compact = () => Similarity.compactIvfAdcIndexSharded(spark, "sw_adc"),
      drop = () => AdcKit.drop("sw_adc"))
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val minhash = SwapCase("minhash band rows", "sw_mh",
      build = () => {
        Dedup.writeMinhashIndex(docs, "doc_id", "text", "sw_mh", n = 2,
          numHashes = h, bands = b)
        Dedup.appendMinhashIndex(moreDocs, "doc_id", "text", "sw_mh",
          n = 2, numHashes = h, bands = b)
      },
      probe = () => Dedup.incrementalMinhashPairsIndexed(
          docs.unionByName(moreDocs),
          Seq((9L, "apple banana apple")).toDF("doc_id", "text"),
          "doc_id", "text", "sw_mh", n = 2, threshold = 0.5,
          numHashes = h, bands = b)
        .toJSON.collect().sorted.toSeq,
      grow = () => Dedup.appendMinhashIndex(nextDoc(), "doc_id", "text",
        "sw_mh", n = 2, numHashes = h, bands = b),
      compact = () => Dedup.compactMinhashIndex(spark, "sw_mh"),
      drop = () => drop("sw_mh", "sw_mh_t"))
    val (va, vb) = vals.splitAt(1000)
    val sketch = SwapCase("MergeTables state", "sw_sk",
      build = () => {
        Sketches.writeSketchTable(va.toDF("v"), col("v"), "sw_sk")
        Sketches.appendSketchTable(vb.toDF("v"), col("v"), "sw_sk")
      },
      probe = () => Sketches.quantilesFromSketchTable(spark, "sw_sk",
        Seq(50, 90, 99)).toJSON.collect().sorted.toSeq,
      grow = () => Sketches.appendSketchTable(vals.take(50).toDF("v"),
        col("v"), "sw_sk"),
      compact = () => Sketches.compactSketchTable(spark, "sw_sk"),
      drop = () => drop("sw_sk", "sw_sk_hwm"))
    Seq(bm25("BM25 postings", "sw_bm"), bm25("BM25 _s", "sw_bm_s"),
      adc("ADC _sv", "sw_adc_sv"), adc("ADC _sv_g", "sw_adc_sv_g"),
      minhash, sketch)
  }

  for (sc <- swapCases)
    test(s"one swap, one heal — ${sc.tier}: a crash after the shadow write " +
        "keeps the live rows; a crash between DROP and RENAME heals to " +
        "the compacted rows") {
      val t = sc.table
      val shadow = t + "_compact_shadow"
      def stored() = spark.table(t).toJSON.collect().sorted.toSeq
      try {
        sc.build()
        val pre = sc.probe()
        assert(pre.nonEmpty, "vacuous gate: the probe returned nothing")
        // crash 1: the shadow is written, the live table untouched — a
        // one-row shadow, so a heal that wrongly adopted it would show
        graft.sources.MapFiles.clearStaleLocation(spark, shadow)
        spark.table(t).limit(1).write.format("parquet").saveAsTable(shadow)
        assert(sc.probe() == pre, "a stale shadow changed the probe")
        sc.compact()
        assert(!spark.catalog.tableExists(shadow),
          s"the next compaction left $shadow behind")
        val post = sc.probe()
        assert(post == pre, "compaction changed the probe")
        val compacted = stored()
        // crash 2: the live table is dropped and the shadow holds the
        // complete compacted state — the next probe finishes the rename
        spark.sql(s"ALTER TABLE `$t` RENAME TO `$shadow`")
        assert(!spark.catalog.tableExists(t))
        assert(sc.probe() == post, "the healed probe diverged")
        assert(spark.catalog.tableExists(t) &&
          !spark.catalog.tableExists(shadow), s"$t was not healed")
        assert(stored() == compacted,
          "the healed table does not hold the compacted rows")
        // the same window healed by the tier's append instead
        spark.sql(s"ALTER TABLE `$t` RENAME TO `$shadow`")
        sc.grow()
        assert(spark.catalog.tableExists(t) &&
          !spark.catalog.tableExists(shadow),
          s"$t was not healed by an append")
        assert(sc.probe().nonEmpty)
      } finally sc.drop()
    }

  test("filtered-compaction takedown preserves NULL-keyed groups (the unnamed stratum is not the retired one)") {
    // !isin(null) evaluates to NULL, which a plain filter drops — the
    // original rewrite silently destroyed the null group's registers /
    // holdout whenever an UNRELATED source was retired. The keep
    // predicate is now null-safe: null keys were not named, so they
    // survive bit-unchanged.
    import graft.pipeline.Samples
    import graft.agg.ValueAggregators
    val rows = Seq(
      (null.asInstanceOf[String], 1L, "alpha beta"),
      (null.asInstanceOf[String], 2L, "beta gamma"),
      ("src0", 3L, "alpha alpha"), ("src1", 4L, "gamma delta"))
    val df = rows.toDF("source", "doc_id", "text")
    def toks(d: org.apache.spark.sql.DataFrame) =
      d.select(col("source"), explode(
        expr("filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
    try {
      ValueAggregators.writeHllTable(toks(df), col("source"),
        col("tok"), "nt_hll_t")
      Samples.writeSampleTable(df, "doc_id", 2, "nt_smp_t",
        group = Some("source"))
      val hllBefore = ValueAggregators
        .hllEstimateFromTable(spark, "nt_hll_t")
        .filter(col("key").isNull).as[(String, Long)].collect().toSeq
      val smpBefore = Samples
        .sampleFromTable(spark, "nt_smp_t", 2)
        .filter(col("g").isNull)
        .as[(String, Long, Long)].collect().sortBy(_._2).toSeq
      assert(hllBefore.nonEmpty && smpBefore.nonEmpty,
        "setup failed — no null-keyed state to protect")
      ValueAggregators.retireHllGroups(spark, "nt_hll_t", Seq("src1"))
      Samples.retireSampleGroups(spark, "nt_smp_t", Seq("src1"))
      val hllAfter = ValueAggregators
        .hllEstimateFromTable(spark, "nt_hll_t")
        .filter(col("key").isNull).as[(String, Long)].collect().toSeq
      val smpAfter = Samples
        .sampleFromTable(spark, "nt_smp_t", 2)
        .filter(col("g").isNull)
        .as[(String, Long, Long)].collect().sortBy(_._2).toSeq
      assert(hllAfter == hllBefore,
        "retiring src1 destroyed the null group's HLL registers")
      assert(smpAfter == smpBefore,
        "retiring src1 destroyed the null stratum's holdout")
      // and the named group IS gone on both
      assert(spark.table("nt_hll_t")
        .filter(col("key") === "src1").isEmpty)
      assert(spark.table("nt_smp_t")
        .filter(col("g") === "src1").isEmpty)
    } finally {
      for (t <- Seq("nt_hll_t", "nt_smp_t", "nt_hll_t_hwm",
          "nt_smp_t_hwm"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("retireSource: the revoked source is PHYSICALLY gone from all four card tables; survivors bit-unchanged; idempotent") {
    // r15 verdict item 2 — takedown end-to-end from stored state. The
    // SUM tiers (length sketch, grouped count-min) retract + compact;
    // the MAX (HLL) and MIN-K (sample) tiers have no inverse, so their
    // takedown is a FILTERED compaction. Faces: (1) no stored row of
    // any table carries the revoked group after the call, (2) every
    // surviving group's probe equals the one-shot over the corpus
    // minus the source (per-group state independence), (3) a second
    // retireSource changes nothing.
    import graft.pipeline.{DatasetCard, MergeTables, Samples, Sketches}
    import graft.agg.ValueAggregators
    val docs = (0L until 60L).map(i =>
      (i, s"src${i % 3}", s"tok${i % 7} tok${i % 5} alpha beta"))
    val all = docs.toDF("doc_id", "source", "text")
    val kept = all.filter(col("source") =!= "src1")
    val ts = Seq("rs_len_t", "rs_cm_t", "rs_hll_t", "rs_smp_t")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"), explode(
        expr("filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
    def storedGroups(t: String, g: String): Set[String] =
      spark.table(t).select(g).distinct().as[String].collect().toSet
    def probes(): (Seq[(String, Int, Long, Long, Long)],
        Seq[(String, Long, Long, Long)], Seq[(String, Long)],
        Seq[(String, Long, Long)]) = (
      Sketches.quantilesFromSketchTable(spark, ts(0), Seq(50, 99))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq,
      MergeTables.mergedSum(spark, ts(1), Seq("g", "h", "b"), "c")
        .as[(String, Long, Long, Long)].collect().sorted.toSeq,
      ValueAggregators.hllEstimateFromTable(spark, ts(2))
        .as[(String, Long)].collect().sorted.toSeq,
      Samples.sampleFromTable(spark, ts(3), 3)
        .as[(String, Long, Long)].collect().sorted.toSeq)
    try {
      val (lo, hi) = (all.filter(col("doc_id") < 30),
        all.filter(col("doc_id") >= 30))
      Sketches.writeSketchTable(lo, length(col("text")), ts(0),
        group = Some(col("source")))
      Sketches.appendSketchTable(hi, length(col("text")), ts(0),
        group = Some(col("source")))
      graft.pipeline.TextAnalysis.writeCountMinTable(lo, "text", ts(1),
        width = 64, depth = 3, group = Some("source"))
      graft.pipeline.TextAnalysis.appendCountMinTable(hi, "text", ts(1),
        width = 64, depth = 3, group = Some("source"))
      ValueAggregators.writeHllTable(toks(lo), col("source"),
        col("tok"), ts(2))
      ValueAggregators.appendHllTable(toks(hi), col("source"),
        col("tok"), ts(2))
      Samples.writeSampleTable(lo, "doc_id", 3, ts(3), group = Some("source"))
      Samples.appendSampleTable(hi, "doc_id", 3, ts(3),
        group = Some("source"))
      DatasetCard.retireSource(spark, ts(0), ts(1), ts(2), ts(3),
        "src1")
      // (1) physically absent from the STORED rows of every table
      assert(storedGroups(ts(0), "g") == Set("src0", "src2"))
      assert(storedGroups(ts(1), "g") == Set("src0", "src2"))
      assert(storedGroups(ts(2), "key") == Set("src0", "src2"))
      assert(storedGroups(ts(3), "g") == Set("src0", "src2"))
      // (2) survivors equal the one-shot over the corpus minus src1
      val (len1, cm1, hll1, smp1) = probes()
      val lenOne = Sketches.logBucketQuantiles(kept, length(col("text")),
        Seq(50, 99), group = Some(col("source")))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(lenOne.nonEmpty && len1 == lenOne)
      val cmOne = graft.pipeline.TextAnalysis.countMinCounters(
        kept, "text", 64, 3, group = Some("source"))
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
      assert(cmOne.nonEmpty && cm1 == cmOne)
      val hllOne = ValueAggregators.portableHllEstimate(toks(kept),
          col("source"), col("tok"))
        .as[(String, Long)].collect().sorted.toSeq
      assert(hllOne.nonEmpty && hll1 == hllOne)
      val smpOne = Samples.hashSampleTopK(kept, "doc_id", 3,
        group = Some("source"))
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(smpOne.nonEmpty && smp1 == smpOne)
      // (3) idempotent: nothing left of src1 to remove
      DatasetCard.retireSource(spark, ts(0), ts(1), ts(2), ts(3),
        "src1")
      assert(probes() == ((len1, cm1, hll1, smp1)))
      // and the card itself serves the survivor set (no loud-guard
      // trip: all four legs agree on {src0, src2})
      val card = DatasetCard.card(spark, ts(0), ts(1), ts(2), ts(3),
        Seq("alpha"), 3, Seq(50, 99), width = 64, depth = 3)
      assert(card.select("source").as[String].collect().sorted.toSeq ==
        Seq("src0", "src2"))
    } finally {
      ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("one entry point per lifecycle step: a one-constant-group table probes to the ungrouped table's rows plus g on the sketch, count-min and sample tiers, after write, append, retract and compact") {
    // the ungrouped tier is the zero-key case of the grouped one: with
    // every row in ONE group, the grouped table's probe through the
    // SAME function names must be the ungrouped probe's rows with the
    // group value prepended, at every lifecycle step
    import graft.pipeline.{Samples, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    val docs = (0L until 120L).map(i =>
      (i, "k", s"w${i % 7} w${i % 3} tok${i % 11}", (i * 7919L) % 5000L))
    val all = docs.toDF("doc_id", "src", "text", "v")
    val (a, b) = (all.filter(col("doc_id") < 70),
      all.filter(col("doc_id") >= 70))
    val gone = all.filter(col("doc_id") < 70 && col("doc_id") % 5 === 0)
    val ts = Seq("uni_sk_u", "uni_sk_g", "uni_cm_u", "uni_cm_g",
      "uni_smp_u", "uni_smp_g")
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def same(u: DataFrame, g: DataFrame, what: String): Unit = {
      assert(g.columns.toSeq == "g" +: u.columns.toSeq, what)
      val ur = rows(u)
      assert(ur.nonEmpty && rows(g) == ur.map("k|" + _), what)
    }
    val (sk, cm, smp) = (Some(col("src")), Some("src"), Some("src"))
    def probeAll(step: String): Unit = {
      same(Sketches.quantilesFromSketchTable(spark, ts(0), Seq(50, 99)),
        Sketches.quantilesFromSketchTable(spark, ts(1), Seq(50, 99)),
        s"sketch probe after $step")
      same(TextAnalysis.countMinFromTable(spark, ts(2)),
        TextAnalysis.countMinFromTable(spark, ts(3)),
        s"count-min counters after $step")
      same(TextAnalysis.countMinTopKIndexed(all, "text", ts(2), k = 4,
          width = 64, depth = 3),
        TextAnalysis.countMinTopKIndexed(all, "text", ts(3), k = 4,
          width = 64, depth = 3, group = cm),
        s"count-min top-k after $step")
      same(Samples.sampleFromTable(spark, ts(4), 6),
        Samples.sampleFromTable(spark, ts(5), 6),
        s"sample after $step")
    }
    try {
      // the one-shot builders first: same law, no table
      same(Sketches.logBucketQuantiles(all, col("v"), Seq(50, 99)),
        Sketches.logBucketQuantiles(all, col("v"), Seq(50, 99),
          group = sk), "one-shot sketch")
      same(TextAnalysis.countMinCounters(all, "text", 64, 3),
        TextAnalysis.countMinCounters(all, "text", 64, 3, group = cm),
        "one-shot counters")
      same(Samples.hashSampleTopK(all, "doc_id", 6),
        Samples.hashSampleTopK(all, "doc_id", 6, group = smp),
        "one-shot sample")
      Sketches.writeSketchTable(a, col("v"), ts(0))
      Sketches.writeSketchTable(a, col("v"), ts(1), group = sk)
      TextAnalysis.writeCountMinTable(a, "text", ts(2), 64, 3)
      TextAnalysis.writeCountMinTable(a, "text", ts(3), 64, 3, group = cm)
      Samples.writeSampleTable(a, "doc_id", 6, ts(4))
      Samples.writeSampleTable(a, "doc_id", 6, ts(5), group = smp)
      probeAll("write")
      Sketches.appendSketchTable(b, col("v"), ts(0))
      Sketches.appendSketchTable(b, col("v"), ts(1), group = sk)
      TextAnalysis.appendCountMinTable(b, "text", ts(2), 64, 3)
      TextAnalysis.appendCountMinTable(b, "text", ts(3), 64, 3, group = cm)
      Samples.appendSampleTable(b, "doc_id", 6, ts(4))
      Samples.appendSampleTable(b, "doc_id", 6, ts(5), group = smp)
      probeAll("append")
      // min-k has no inverse, so the sample tier has no retraction
      Sketches.retractSketchTable(gone, col("v"), ts(0))
      Sketches.retractSketchTable(gone, col("v"), ts(1), group = sk)
      TextAnalysis.retractCountMinDocs(gone, "text", ts(2), 64, 3)
      TextAnalysis.retractCountMinDocs(gone, "text", ts(3), 64, 3,
        group = cm)
      probeAll("retract")
      Sketches.compactSketchTable(spark, ts(0))
      Sketches.compactSketchTable(spark, ts(1))
      TextAnalysis.compactCountMinTable(spark, ts(2))
      TextAnalysis.compactCountMinTable(spark, ts(3))
      Samples.compactSampleTable(spark, ts(4), 6)
      Samples.compactSampleTable(spark, ts(5), 6)
      probeAll("compact")
      // the stored schemas stay as they were: an ungrouped table has no g
      ts.grouped(2).foreach { case Seq(u, g) =>
        assert(spark.table(g).columns.toSeq ==
          "g" +: spark.table(u).columns.toSeq, s"$u vs $g schema")
      }
    } finally {
      ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}_hwm"))
    }
  }

  test("a call whose grouping disagrees with the stored table is refused before anything lands, naming the table and its grouping") {
    // without the guard a grouped append into an ungrouped table died
    // inside saveAsTable with Spark's raw column-count error, and a
    // grouped-only operation on an ungrouped table with an unresolved
    // column
    import graft.pipeline.{DatasetCard, MergeTables, Samples, TextAnalysis}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Seq((0L, "k", "a b a", 5L), (1L, "j", "b c", 9L))
      .toDF("doc_id", "src", "text", "v")
    val stream = MemoryStream[(Long, String, String, Long)](spark)
      .toDF().toDF("doc_id", "src", "text", "v")
    val ts = Seq("mm_sk_u", "mm_sk_g", "mm_cm_u", "mm_cm_g", "mm_smp_u",
      "mm_smp_g")
    def refused(table: String, grouped: Boolean)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      val said = if (grouped) "is a GROUPED table" else
        "is an UNGROUPED table"
      assert(e.getMessage.contains(s"$table $said"), e.getMessage)
    }
    val (sk, cm) = (Some(col("src")), Some("src"))
    try {
      Sketches.writeSketchTable(docs, col("v"), ts(0))
      Sketches.writeSketchTable(docs, col("v"), ts(1), group = sk)
      TextAnalysis.writeCountMinTable(docs, "text", ts(2), 64, 3)
      TextAnalysis.writeCountMinTable(docs, "text", ts(3), 64, 3,
        group = cm)
      Samples.writeSampleTable(docs, "doc_id", 2, ts(4))
      Samples.writeSampleTable(docs, "doc_id", 2, ts(5), group = cm)
      // grouped calls into ungrouped tables
      refused(ts(0), grouped = false)(
        Sketches.appendSketchTable(docs, col("v"), ts(0), group = sk))
      refused(ts(0), grouped = false)(
        Sketches.retractSketchTable(docs, col("v"), ts(0), group = sk))
      refused(ts(0), grouped = false)(Sketches.startStreamAppendSketchTable(
        stream, col("v"), ts(0), group = sk))
      refused(ts(0), grouped = false)(
        Sketches.retireGroupsBefore(spark, ts(0), 1L))
      refused(ts(0), grouped = false)(
        Sketches.retireGroups(spark, ts(0), Seq("k")))
      refused(ts(2), grouped = false)(TextAnalysis.appendCountMinTable(
        docs, "text", ts(2), 64, 3, group = cm))
      refused(ts(2), grouped = false)(TextAnalysis.retractCountMinDocs(
        docs, "text", ts(2), 64, 3, group = cm))
      refused(ts(2), grouped = false)(
        TextAnalysis.startStreamAppendCountMinTable(stream, "text", ts(2),
          64, 3, group = cm))
      refused(ts(2), grouped = false)(TextAnalysis.countMinTopKIndexed(
        docs, "text", ts(2), k = 2, width = 64, depth = 3, group = cm))
      refused(ts(2), grouped = false)(
        TextAnalysis.retireCountMinGroups(spark, ts(2), Seq("k")))
      refused(ts(2), grouped = false)(
        TextAnalysis.groupedCountMinTokenEstimates(spark, ts(2), Seq("a"),
          64, 3))
      refused(ts(4), grouped = false)(
        Samples.appendSampleTable(docs, "doc_id", 2, ts(4), group = cm))
      refused(ts(4), grouped = false)(Samples.startStreamAppendSampleTable(
        stream, "doc_id", 2, ts(4), group = cm))
      refused(ts(4), grouped = false)(
        Samples.retireSampleGroups(spark, ts(4), Seq("k")))
      refused(ts(0), grouped = false)(DatasetCard.startMaintain(stream,
        ts(0), ts(3), "mm_hll_unused", ts(5), 2, width = 64, depth = 3))
      // ungrouped calls into grouped tables
      refused(ts(1), grouped = true)(
        Sketches.appendSketchTable(docs, col("v"), ts(1)))
      refused(ts(1), grouped = true)(Sketches.appendSketchTableKeyed(
        docs, col("v"), ts(1), lineage = 1L, batchId = 0L))
      refused(ts(1), grouped = true)(
        Sketches.retractSketchTable(docs, col("v"), ts(1)))
      refused(ts(1), grouped = true)(
        Sketches.startStreamAppendSketchTable(stream, col("v"), ts(1)))
      refused(ts(3), grouped = true)(
        TextAnalysis.appendCountMinTable(docs, "text", ts(3), 64, 3))
      refused(ts(3), grouped = true)(
        TextAnalysis.retractCountMinDocs(docs, "text", ts(3), 64, 3))
      refused(ts(3), grouped = true)(
        TextAnalysis.startStreamAppendCountMinTable(stream, "text", ts(3),
          64, 3))
      refused(ts(3), grouped = true)(TextAnalysis.countMinTopKIndexed(
        docs, "text", ts(3), k = 2, width = 64, depth = 3))
      refused(ts(5), grouped = true)(
        Samples.appendSampleTable(docs, "doc_id", 2, ts(5)))
      refused(ts(5), grouped = true)(Samples.startStreamAppendSampleTable(
        stream, "doc_id", 2, ts(5)))
      // nothing landed and no query was left running
      ts.foreach(t =>
        assert(MergeTables.generationCount(spark, t) == 1L, t))
      assert(spark.streams.active.isEmpty)
    } finally {
      ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}

/** The one compaction trigger ([[graft.pipeline.MergeTables.compactIfOver]])
  * over every generation-keyed tier: with g committed generations in the
  * tier's commit table, `compact…(maxGen = g)` is a no-op that leaves
  * the stored rows unchanged, `maxGen = g - 1` compacts to one
  * generation with the probe rows kept, and the default (`maxGen = 0`)
  * compacts whatever it finds. */
class CompactionTriggerSpec extends AnyFunSuite with SparkTest {
  import graft.pipeline.{MergeTables, Samples, Sketches}
  import graft.agg.ValueAggregators

  private val d = "/root/testdata/sf0.001"

  /** One tier's data: its commit table, how to land generation i (0 is
    * the build), its compactor, and what a probe reads. */
  private case class Tier(name: String, tables: Seq[String],
      commitTable: String, land: Int => Unit,
      compact: Option[Int] => Boolean, probe: () => Seq[String])

  /** Sorted rows as text, binary fields (ADC codes) as hex. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => String.valueOf(x)
    }.mkString(",")).sorted.toSeq

  private def stored(t: Tier): Seq[Seq[String]] =
    t.tables.map(n => rows(MergeTables.freshView(spark, n)))

  private def gens(t: Tier): Long =
    MergeTables.generationCount(spark, t.commitTable)

  private lazy val docs = Tables.documents(spark, d)
    .filter(col("doc_id") < 90).select("doc_id", "text").cache()
  private lazy val vecs = spark.read.parquet(s"$d/embeddings.parquet")
    .filter(col("vec_id") < 300).cache()
  /** Generation i's rows: a quarter of the ids, both parities (so both
    * ADC shards), generations 0-2 landed up front and 3 later. */
  private def slice(df: org.apache.spark.sql.DataFrame, idCol: String,
      i: Int) = df.filter(floor(col(idCol) / 2) % 4 === i)

  private def adcTier(t: String): Tier = Tier("adc", Seq(t + "_sv",
      t + "_sv_g"), t + "_sv_g",
    i => if (i == 0) Similarity.writeIvfAdcIndexSharded(
        slice(vecs, "vec_id", 0), "vec_id", "embedding", t, nShards = 2)
      else Similarity.appendIvfAdcIndexSharded(slice(vecs, "vec_id", i),
        "vec_id", "embedding", t),
    {
      case None => Similarity.compactIvfAdcIndexSharded(spark, t)
      case Some(m) => Similarity.compactIvfAdcIndexSharded(spark, t, m)
    },
    () => AdcKit.probe(vecs.filter(col("vec_id") % 25 === 0), t)
      .map(_.toString))

  private val tiers: Seq[Tier] = Seq(
    adcTier("ct_adc"),
    Tier("bm25", Seq("ct_bm25", "ct_bm25_s"), "ct_bm25_s",
      i => if (i == 0) TextAnalysis.writeBm25Index(slice(docs, "doc_id", 0),
          "doc_id", "text", "ct_bm25")
        else TextAnalysis.appendBm25Index(slice(docs, "doc_id", i),
          "doc_id", "text", "ct_bm25"),
      {
        case None => TextAnalysis.compactBm25Index(spark, "ct_bm25")
        case Some(m) => TextAnalysis.compactBm25Index(spark, "ct_bm25", m)
      },
      () => rows(TextAnalysis.bm25TopKIndexed(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("q_id"), col("text").as("qtext")),
        "q_id", "qtext", "ct_bm25", k = 3))),
    Tier("sketch", Seq("ct_sk"), "ct_sk",
      i => {
        val v = slice(vecs, "vec_id", i).select(col("vec_id").as("v"))
        if (i == 0) Sketches.writeSketchTable(v, col("v"), "ct_sk")
        else Sketches.appendSketchTable(v, col("v"), "ct_sk")
      },
      {
        case None => Sketches.compactSketchTable(spark, "ct_sk")
        case Some(m) => Sketches.compactSketchTable(spark, "ct_sk", m)
      },
      () => rows(Sketches.quantilesFromSketchTable(spark, "ct_sk",
        Seq(50, 90, 99)))),
    Tier("count-min", Seq("ct_cm"), "ct_cm",
      i => if (i == 0) TextAnalysis.writeCountMinTable(
          slice(docs, "doc_id", 0), "text", "ct_cm", width = 64, depth = 3)
        else TextAnalysis.appendCountMinTable(slice(docs, "doc_id", i),
          "text", "ct_cm", width = 64, depth = 3),
      {
        case None => TextAnalysis.compactCountMinTable(spark, "ct_cm")
        case Some(m) => TextAnalysis.compactCountMinTable(spark, "ct_cm", m)
      },
      () => rows(TextAnalysis.countMinFromTable(spark, "ct_cm"))),
    Tier("sample", Seq("ct_smp"), "ct_smp",
      i => if (i == 0) Samples.writeSampleTable(slice(docs, "doc_id", 0),
          "doc_id", 5, "ct_smp")
        else Samples.appendSampleTable(slice(docs, "doc_id", i), "doc_id",
          5, "ct_smp"),
      {
        case None => Samples.compactSampleTable(spark, "ct_smp", 5)
        case Some(m) => Samples.compactSampleTable(spark, "ct_smp", 5, m)
      },
      () => rows(Samples.sampleFromTable(spark, "ct_smp", 5))),
    Tier("hll", Seq("ct_hll"), "ct_hll",
      i => {
        val b = slice(docs, "doc_id", i)
        val key = col("doc_id") % 4
        val v = col("text")
        if (i == 0) ValueAggregators.writeHllTable(b, key, v, "ct_hll")
        else ValueAggregators.appendHllTable(b, key, v, "ct_hll")
      },
      {
        case None => ValueAggregators.compactHllTable(spark, "ct_hll")
        case Some(m) => ValueAggregators.compactHllTable(spark, "ct_hll", m)
      },
      () => rows(ValueAggregators.hllEstimateFromTable(spark, "ct_hll"))))

  private def dropAll(t: Tier): Unit =
    if (t.name == "adc") AdcKit.drop(t.tables.head.stripSuffix("_sv"))
    else for (n <- t.tables; sfx <- Seq("", "_hwm", "_t", "_compact_shadow"))
      spark.sql(s"DROP TABLE IF EXISTS `$n$sfx`")

  /** The trigger law on `t` once its g generations have landed. */
  private def checkTrigger(t: Tier): Unit = {
    val g = gens(t)
    assert(g >= 2L, s"${t.name}: $g generations")
    val before = stored(t)
    val probe = t.probe()
    assert(probe.nonEmpty, t.name)
    assert(!t.compact(Some(g.toInt)), s"${t.name}: maxGen = g compacted")
    assert(stored(t) == before, s"${t.name}: a no-op changed stored rows")
    assert(t.compact(Some(g.toInt - 1)), s"${t.name}: maxGen = g-1 held")
    assert(gens(t) == 1L, s"${t.name}: ${gens(t)} generations left")
    assert(t.probe() == probe, s"${t.name}: compaction changed the probe")
    t.land(3)
    assert(gens(t) == 2L, t.name)
    assert(t.compact(None), s"${t.name}: the default did not compact")
    assert(gens(t) == 1L, s"${t.name}: the default left ${gens(t)}")
  }

  test("one compaction trigger: maxGen = g is a no-op, g - 1 compacts, the default compacts — every generation-keyed tier") {
    for (t <- tiers) {
      dropAll(t)
      try {
        (0 to 2).foreach(t.land)
        checkTrigger(t)
      } finally dropAll(t)
    }
  }

  // a single-shard retrain collapses that shard's commit rows to one,
  // so the retired rows-per-shard rule and the distinct-generation
  // count disagree there: the count still sees every generation the
  // other shard committed
  test("one compaction trigger on ADC after a single-shard retrain counts distinct generations") {
    val t = adcTier("ct_adc_rt")
    AdcKit.drop("ct_adc_rt")
    try {
      (0 to 2).foreach(t.land)
      Similarity.retrainIvfAdcShard(
        vecs.filter(floor(col("vec_id") / 2) % 4 < 3), "vec_id",
        "embedding", "ct_adc_rt", shard = 0)
      assert(spark.table("ct_adc_rt_sv_g").count() == 4L)
      assert(gens(t) == 3L)
      checkTrigger(t)
    } finally AdcKit.drop("ct_adc_rt")
  }
}
