package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four tiers, cheapest first:
  *   - [[exact]]           — byte-identical texts (hash groupBy)
  *   - [[simhash]]         — 60-bit weighted token fingerprint
  *   - [[ngramJaccardPairs]] — exact all-pairs word-shingle Jaccard via an
  *     inverted-index self-join (the correctness baseline; O(sum of
  *     posting-list² ) — fine for medium corpora, superseded by LSH at scale)
  *   - [[minhashLshPairs]] — MinHash signatures + banded LSH: candidates
  *     come from equal band buckets, then exact Jaccard re-verification.
  *     This is the 100 TB path: cost is O(docs × H) map-side work plus a
  *     shuffle keyed on (band, bucket) whose fan-in is the near-dup rate,
  *     not O(n²).
  *
  * All hashing goes through [[Portable]] so the DuckDB oracle reproduces
  * results exactly; Jaccard values are single IEEE divisions of exact
  * integer counts, so equality across engines is bit-level.
  */
object Dedup {

  /** Exact dedup: one row per distinct text, keeping the smallest doc id.
    * Grouping key is md5(text) so the shuffle carries 16 bytes per doc,
    * not the document body. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  // ---------------------------------------------------------------- shingles

  /** Word n-gram shingle strings of a text column.
    *
    * Implemented as ONE codegen'd `regexp_extract_all` with an overlapping
    * lookahead capture — at every word start the lookahead captures that
    * word plus the next n−1 — instead of the equivalent
    * filter/transform/element_at higher-order chain, which runs
    * interpreted and was ~7× slower on the sf0.1 corpus. Assumes
    * single-space-separated text (the documents corpus is verified free
    * of leading/double spaces); normalize separators upstream otherwise.
    */
  def shingles(text: Column, n: Int): Column = {
    val pattern = "(?=(" + Seq.fill(n)("\\S+").mkString(" ") + "))\\S+"
    regexp_extract_all(text, lit(pattern), lit(1))
  }

  /** (id, sh) distinct 60-bit shingle-hash postings for a corpus. */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("s"))
      .select(col("id"), Portable.hash60Fast(col("s")).as("sh"))
      .distinct()
  }

  /** Exact pairwise Jaccard >= threshold via inverted-index self-join.
    * Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val ds = shinglePostings(docs, idCol, textCol, n).cache()
    val sizes = ds.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pairs = jaccardOf(sizes, ds.as("a").join(ds.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter")), threshold)
    materializeThenRelease(pairs, ds)
  }

  /** Pairwise n-gram Jaccard overlap between GROUPS of documents (sources,
    * domains, crawl snapshots): the corpus-auditing matrix behind data-mix
    * decisions — "how much of source B is already in source A" before
    * weighting them (reference analog: the per-source accounting of
    * `mapred/lib/aggregate/ValueAggregatorJob.java:46`'s descriptor runs,
    * re-keyed to group pairs).
    *
    * Returns (src_a, src_b, na, nb, inter, jaccard) with src_a < src_b,
    * where na/nb are distinct-gram counts per group and jaccard is one
    * IEEE division of exact integers (bit-equal across engines).
    *
    * Scale: the only shuffles carry (group, gram-hash) — the text never
    * moves — and the distinct collapses each group's grams map-side
    * first. The self-join fan-out per gram is bounded by the number of
    * groups sharing it, so the output is O(G²) rows for G groups; G is
    * source-count-sized (thousands at most), never corpus-sized.
    *
    * Accepted collision exposure: sets are intersected on the 60-bit
    * gram HASH (the q90 oracle hashes identically, so both engines share
    * every collision); two distinct grams colliding within one group
    * would merge into one distinct hash and shift na/inter by 1.
    * Expected collisions ≈ g²/2^61 per group — ~10^-7 even at a billion
    * distinct grams per source — and the jaccard shifts by at most
    * 1/(na+nb-inter). The alternative (shuffling full gram strings)
    * costs n× the exchange width for audit-grade output; not worth it. */
  def groupOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    val gs = docs.select(col(groupCol).as("g"),
        explode(shingles(col(textCol), n)).as("s"))
      .select(col("g"), Portable.hash60Fast(col("s")).as("sh"))
      .distinct()
      .cache()
    val sizes = gs.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = gs.as("a").join(gs.as("b"),
        col("a.sh") === col("b.sh") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("src_a"), col("b.g").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select(col("g").as("src_a"), col("n").as("na")), "src_a")
      .join(sizes.select(col("g").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"), col("inter"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
    materializeThenRelease(out, gs)
  }

  /** Eagerly materialize the (near-dup-rate-sized, i.e. small relative to
    * the postings) pair result, then drop the cached postings so repeated
    * invocations in a long-lived JVM don't accumulate storage blocks.
    * localCheckpoint blocks are reclaimed by the ContextCleaner once the
    * returned plan is unreachable. */
  private def materializeThenRelease(result: DataFrame,
      cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    out
  }

  /** Attach per-doc set sizes (id, n) and compute
    * jaccard = inter / (na + nb - inter). */
  private def jaccardOf(sizes: DataFrame, inter: DataFrame,
      threshold: Double): DataFrame =
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  // ---------------------------------------------------------------- minhash

  /** Prime modulus for the affine minhash permutations: fits products of
    * two 31-bit values in a signed 64-bit long without overflow.
    * Single-sourced from [[graft.functions.MinhashSigs]] so the
    * declarative and map-side signature strategies can never drift. */
  val P: Long = graft.functions.MinhashSigs.P

  /** Affine permutation coefficients (a_i, b_i), identical in the oracle —
    * the pair view of [[graft.functions.MinhashSigs.affineParams]]. */
  def hashParams(h: Int): Seq[(Long, Long)] = {
    val flat = graft.functions.MinhashSigs.affineParams(h)
    (0 until h).map(i => (flat(2 * i), flat(2 * i + 1)))
  }

  /** Per-pair recall of banded minhash LSH at Jaccard `j`:
    * 1 − (1 − j^rowsPerBand)^bands — the banding law the docstrings
    * quote, as code (calibration and specs share it). */
  def minhashRecall(jaccard: Double, rowsPerBand: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(jaccard, rowsPerBand), bands)

  /** Derive (numHashes, bands) from the banding law instead of
    * hand-picking: the smallest band count reaching `targetRecall` at
    * `threshold`, at the LARGEST rows-per-band whose total signature
    * length (bands × rows) fits `maxHashes`.
    *
    * Why largest-rows-first: a band's random-collision rate falls
    * geometrically with its row count (j₀^rows for background Jaccard
    * j₀), so band width buys candidate selectivity — the dominant cost
    * at scale — while the hash budget caps the map-side signature work
    * (one min-aggregate per hash per doc). Throws if even rows=1 cannot
    * reach the target within `maxHashes`. */
  def minhashParams(threshold: Double, targetRecall: Double,
      maxHashes: Int = 24): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold=$threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"target=$targetRecall")
    def bandsFor(r: Int): Option[Int] = {
      val jr = math.pow(threshold, r)
      if (jr >= 1.0) Some(1)
      else {
        val b = math.ceil(math.log1p(-targetRecall) / math.log1p(-jr))
        if (!b.isFinite || b * r > maxHashes) None
        else Some(math.max(1.0, b).toInt)
      }
    }
    (maxHashes to 1 by -1).iterator
      .map(r => bandsFor(r).map(b => (b * r, b)))
      .collectFirst { case Some(hb) => hb }
      .getOrElse(throw new IllegalArgumentException(
        s"recall $targetRecall at threshold $threshold needs more than " +
        s"$maxHashes hashes even at rows=1 — raise maxHashes"))
  }

  /** (id, h0..h{H-1}, n) signatures via the native
    * [[graft.functions.MinhashSigsExpr]]: the whole signature computes in
    * the SCAN projection — H+1 longs per doc, zero exchanges; docs with
    * fewer than n words yield null = no shingles and drop out. */
  private[graft] def mapSideSignatures(docs: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int): DataFrame = {
    docs.select(col(idCol).as("id"),
        GraftColumnBridge.column(graft.functions.MinhashSigsExpr(
          GraftColumnBridge.expression(col(textCol)), n, numHashes))
          .as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id") +:
        (0 until numHashes).map(i =>
          element_at(col("sig"), i + 1).as(s"h$i")) :+
        element_at(col("sig"), numHashes + 1).as("n"): _*)
  }

  /** (id, h0..h{H-1}, n) minhash signatures + shingle-set size from
    * postings: one groupBy, H parallel min-aggregates (partial agg
    * map-side, so the shuffle carries H longs per doc); the per-doc
    * size rides the same aggregation, saving a separate sizes pass. */
  private def signaturesOf(ds: DataFrame, numHashes: Int): DataFrame = {
    val params = hashParams(numHashes)
    val x = col("sh") % P
    val sigCols = params.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * x + lit(b)) % P).as(s"h$i")
    } :+ count(lit(1)).as("n")
    ds.groupBy(col("id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** The per-band bucket structs (band, bsig) from signature columns
    * h0..h{H-1} — shared by [[bandRowsOf]] and [[writeMinhashIndex]] so
    * the stored index and the live band rows can never fold differently. */
  private def bandStructs(bands: Int, r: Int): Column = array(
    (0 until bands).map { j =>
      val bsig = (0 until r).map(k => col(s"h${j * r + k}"))
        .reduce((acc, c) => acc * 31 + c)
      struct(lit(j).as("band"), bsig.as("bsig"))
    }: _*)

  /** (id, band, bsig) band-bucket rows: each band's r minhashes combined
    * into one bucket key. */
  private def bandRowsOf(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(col("id"), explode(bandStructs(bands, r)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))

  /** Single band-bucket join key folding (band, bsig) into one long via
    * xxhash64. A 64-bit collision (≈2^-64 per bucket pair) can only ADD
    * a candidate pair, which exact-Jaccard verification then discards —
    * recall is untouched, candidates merge, never split. In exchange the
    * stored index buckets on ONE column, which is what lets the probe
    * join consume the bucketed layout with no shuffle on the stored side
    * (Spark elides the exchange only when the bucket key IS the join key
    * set — `requireAllClusterKeysForCoPartition`). */
  private def bkeyOf(band: Column, bsig: Column): Column =
    xxhash64(band, bsig)

  /** Band-bucket self-join: distinct candidate pairs with id_a < id_b —
    * the one LSH candidate construction every minhash tier shares. */
  private def candidatesOf(bandRows: DataFrame): DataFrame =
    bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** Exact shingle-intersection counts per candidate pair: the a-side
    * joins dsA's postings, the b-side dsB's (same frame for self-dedup,
    * distinct frames for the incremental corpus/batch screen). */
  private def interOf(candidates: DataFrame, dsA: DataFrame,
      dsB: DataFrame): DataFrame =
    candidates
      .join(dsA.select(col("id").as("id_a"), col("sh")), "id_a")
      .join(dsB.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))

  /** MinHash + banded LSH near-dup pairs with exact-Jaccard verification.
    *
    * Two signature strategies, identical results (spec-asserted):
    *   - `mapSideSigs = false`: the declarative aggregate — distinct
    *     postings shuffle once for signatures and again for verification.
    *   - `mapSideSigs = true` (default): the native
    *     [[graft.functions.MinhashSigsExpr]] computes every signature in
    *     the SCAN projection (zero exchanges), and the posting shuffle
    *     runs candidate-restricted only — at 100 TB that turns the
    *     corpus-wide signature shuffle into a near-dup-rate-sized one.
    *
    * @param numHashes signature length H (= bands * rowsPerBand)
    * @param bands     LSH bands; a pair is a candidate if any band matches
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numHashes: Int = 24, bands: Int = 6,
      mapSideSigs: Boolean = true): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    if (mapSideSigs) {
      val sigs = mapSideSignatures(docs, idCol, textCol, n, numHashes)
        .cache()
      val candidates = candidatesOf(bandRowsOf(sigs, bands, r))
        .localCheckpoint(true) // reused by the semi-join and both probes
      // verification postings for CANDIDATE docs only — the only shuffle
      // of shingle hashes is near-dup-rate-sized
      // semi-join build side only — duplicates are semantics-free and
      // pair-bounded, and the distinct was one more exchange (r22)
      val candIds = candidates
        .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      val ds = shinglePostings(
        docs.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, n)
        .cache()
      val inter = interOf(candidates, ds, ds)
      val pairs = jaccardOf(sigs.select(col("id"), col("n")), inter, threshold)
      return materializeThenRelease(pairs, ds, sigs)
    }
    // postings feed signature-building, candidate verification (twice) and
    // size counts — cache instead of recomputing the explode+md5+distinct
    // lineage per consumer
    val ds = shinglePostings(docs, idCol, textCol, n).cache()

    // sigs feeds both the banding path and the Jaccard size lookup; cache
    // so the H-way min aggregation runs once (docs × (H+1) longs — small
    // relative to the postings at any scale)
    val sigs = signaturesOf(ds, numHashes).cache()

    // exact verification restricted to candidates: join each side's
    // postings; cost scales with candidate count, not corpus²
    val inter = interOf(candidatesOf(bandRowsOf(sigs, bands, r)), ds, ds)
    val pairs = jaccardOf(sigs.select(col("id"), col("n")), inter, threshold)
    materializeThenRelease(pairs, ds, sigs)
  }

  /** INCREMENTAL MinHash-LSH dedup: which docs of a NEW batch are
    * near-dups of an EXISTING corpus — the production shape, where daily
    * increments are screened against the accumulated corpus without ever
    * re-pairing the corpus against itself. Returns
    * `(id_a = corpus id, id_b = batch id, jaccard)` for every cross pair
    * at or above `threshold`; batch-internal and corpus-internal pairs
    * are never formed (the band join keys corpus rows only against batch
    * rows), so incremental cost is O(batch shingles + cross candidates),
    * independent of corpus². Ids must be disjoint across the two inputs
    * (they key the verification joins).
    *
    * Signatures use the same [[hashParams]] permutations as
    * [[minhashLshPairs]], so in production the corpus side's signatures
    * and band rows are a precomputed table appended per increment —
    * computed here from the same recipe, bit-identical either way.
    */
  def incrementalMinhashPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double,
      numHashes: Int = 24, bands: Int = 6): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val cds = shinglePostings(corpus, idCol, textCol, n).cache()
    val bds = shinglePostings(batch, idCol, textCol, n).cache()
    val csigs = signaturesOf(cds, numHashes).cache()
    val bsigs = signaturesOf(bds, numHashes).cache()
    val candidates = bandRowsOf(csigs, bands, r).as("x")
      .join(bandRowsOf(bsigs, bands, r).as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val inter = interOf(candidates, cds, bds)
    val sizes = csigs.select(col("id"), col("n"))
      .unionByName(bsigs.select(col("id"), col("n")))
    val pairs = jaccardOf(sizes, inter, threshold)
    materializeThenRelease(pairs, cds, bds, csigs, bsigs)
  }

  /** Persist the CORPUS side of the incremental screen ONCE: banded
    * signature index rows `(bkey, id, n)` in the MapFile bucketed layout
    * ([[graft.sources.MapFiles.write]] — bucketed and sorted by `bkey`,
    * parquet bloom on it). Signatures come from the map-side
    * [[graft.functions.MinhashSigsExpr]], so the whole index build is
    * scan-projection + explode: zero exchanges before the bucketed
    * write's own clustering. This is the write-once-probe-many half of
    * [[incrementalMinhashPairsIndexed]]; in production it runs once per
    * archive append, not once per screened batch. Reference analog:
    * `MapFileOutputFormat`'s build-then-`getEntry` contract
    * (mapred/MapFileOutputFormat.java:39). */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      table: String, n: Int, numHashes: Int = 24, bands: Int = 6,
      buckets: Int = 16): Unit = {
    MergeTables.dropTombstones(corpus.sparkSession, table)
    graft.sources.MapFiles.write(
      indexRows(corpus, idCol, textCol, n, numHashes, bands),
      "bkey", buckets, table)
  }

  /** The banded signature index rows `(bkey, id, n)` of one document
    * set — shared by [[writeMinhashIndex]] and [[appendMinhashIndex]]
    * so build and append cannot derive signatures differently. */
  private def indexRows(corpus: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val sigs = mapSideSignatures(corpus, idCol, textCol, n, numHashes)
    sigs.select(col("id"), col("n"),
        explode(bandStructs(bands, r)).as("bb"))
      .select(bkeyOf(col("bb.band"), col("bb.bsig")).as("bkey"),
        col("id"), col("n"))
  }

  /** Append a NEW document batch's banded signatures to a persisted
    * minhash archive index — the maintenance story for
    * [[writeMinhashIndex]]'s write-once build, completing the
    * append tier across all three persisted indexes (BM25
    * `appendBm25Index`, ADC `appendIvfAdcIndexSharded`, and this). The
    * batch's band rows are pure functions of the documents and the
    * fixed hash family (no trained state, no corpus scalars), so the
    * append is ONE bucketed file append: new files land in the
    * existing `bkey` buckets, probes keep bucket pruning across write
    * generations, the stored side is never read or shuffled, and
    * build+append is row-identical to a one-shot rebuild over the
    * union (spec-gated; qd5 gates the probe against q86's oracle).
    * Cost per batch: the batch's own map-side signatures plus the
    * bucketed sink's exchange — archive-size work never re-pays.
    *
    * CRASH SAFETY: this tier needs no generation protocol — the
    * screen is RETRY-IDEMPOTENT as-is. Band rows carry no counts or
    * scalars, the probe's candidate stage dedups (id_a, id_b) pairs,
    * and the sizes lookup reads (id, n) distinct, so duplicate rows
    * from a replayed (crashed-and-retried) append change no screen
    * result (spec-gated: double-append == single-append). Physical
    * duplicates persist until a compaction is run with dedup hygiene
    * in mind — [[compactMinhashIndex]] deliberately keeps its
    * zero-shuffle bucket-aligned rewrite (a DISTINCT would cost an
    * exchange) because duplicates are semantically inert here. */
  def appendMinhashIndex(newCorpus: DataFrame, idCol: String,
      textCol: String, table: String, n: Int, numHashes: Int = 24,
      bands: Int = 6): Unit = MergeTables.withTableLock(table) {
    val spark = newCorpus.sparkSession
    MergeTables.recoverCompactCrash(spark, table)
    graft.sources.MapFiles.append(
      indexRows(newCorpus, idCol, textCol, n, numHashes, bands), table)
  }

  /** [[appendMinhashIndex]] with the NEW DOCUMENTS ARRIVING AS A
    * STREAM — the signature tier's twin of
    * [[graft.pipeline.TextAnalysis.startStreamAppendBm25Index]] (qd6)
    * and [[graft.pipeline.Similarity.startStreamAppendIvfAdcIndexSharded]]
    * (qe1), completing streaming maintenance across all three persisted
    * indexes: [[streamIncrementalDedup]] streams batches AGAINST the
    * archive; this streams the corpus INTO it. Each micro-batch runs
    * the gated batch append verbatim inside foreachBatch — map-side
    * signatures, band rows into the existing bkey buckets. This tier
    * needs no generation protocol at all (the [[appendMinhashIndex]]
    * retry-idempotence argument): band rows carry no scalars, the
    * probe's candidate stage dedups pairs and reads sizes distinct, so
    * a replayed micro-batch — the failure mode foreachBatch's
    * at-least-once contract produces — changes no screen result. K
    * streamed micro-batches == one one-shot append == a rebuild over
    * the union, row-identical (two-micro-batch MemoryStream spec; qe2
    * gates the grown archive's screen against q86's oracle
    * verbatim). With no `batch_key` there is no commit key for the
    * keyed loop to hand out, but the stream still holds the table's
    * writer lease for its lifetime ([[MergeTables.startLeased]]), so a
    * second writer process is refused like on every other tier.
    * Returns the started query; the caller owns the trigger cadence. */
  def startStreamAppendMinhashIndex(docStream: DataFrame, idCol: String,
      textCol: String, table: String, n: Int, numHashes: Int = 24,
      bands: Int = 6): org.apache.spark.sql.streaming.StreamingQuery =
    MergeTables.startLeased(docStream.sparkSession, Seq(table)) {
      docStream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          appendMinhashIndex(batch, idCol, textCol, table, n, numHashes,
            bands)
        }
        .start()
    }

  /** Rewrite a persisted minhash archive's file generations into ONE
    * (the MapFile sorted-single-file contract, io/MapFile.java:49) —
    * after K batch appends a probe otherwise reads K generations of
    * small files per bucket. Pure rewrite: this tier has no scalars
    * and no commit table, so compaction is the live rows (tombstoned
    * docs excluded) shadow-written + catalog-swapped, then the
    * tombstones drop; crash exposure is the two-catalog-op swap window
    * only (run in a maintenance window). It takes no `maxGen`: band
    * rows carry no generations to count. Gated: compacted == appended
    * == rebuilt, stored rows and probe results identical (spec +
    * qd5). */
  def compactMinhashIndex(spark: SparkSession, table: String): Unit =
      MergeTables.withTableLock(table) {
    // healed and locked: a same-process append's band rows cannot land
    // between the listing and the swap's DROP
    MergeTables.recoverCompactCrash(spark, table)
    // bucket-preserving read: the scan keeps one partition per bucket
    // (readBucketed), which already satisfies the swap's per-bucket
    // distribution — the rewrite streams bucket i -> one file i with
    // ZERO shuffle (the swap's repartition is elided by the planner)
    MergeTables.swapInKeyed(spark,
      liveMinhashRows(spark, table, bucketedRead = true)
        .select("bkey", "id", "n"),
      "bkey", table)
    MergeTables.dropTombstones(spark, table)
  }

  /** Delete documents from a persisted minhash archive index — the
    * takedown/dedup-verdict consumer on the signature tier, completing
    * deletion across all three persisted indexes (BM25
    * `deleteBm25Docs`, ADC `deleteIvfVecsSharded`, and this). Tombstone id
    * rows append to `table_t`; like the ADC tier there are NO scalars
    * (each row carries its own `n`), so the single append IS the
    * commit — present means deleted, no multi-table window — and
    * re-deleting or deleting absent ids is idempotent by membership.
    * Every probe anti-joins the distinct tombstones via
    * [[liveMinhashRows]] (delete-batch-sized broadcast), removing the
    * doc's band rows AND its size row in one stroke (sizes ride the
    * band rows, so nothing can half-delete); [[compactMinhashIndex]]
    * removes the rows physically and clears the tombstones. Gated
    * (qd7): the incremental screen over the tombstoned archive equals
    * the scan-per-run pairs over the archive MINUS the deleted docs. */
  def deleteMinhashDocs(spark: SparkSession, table: String,
      ids: DataFrame, idCol: String): Unit =
      MergeTables.withTableLock(table) {
    MergeTables.recoverCompactCrash(spark, table)
    require(spark.catalog.tableExists(table),
      s"$table does not exist — not a minhash index")
    MergeTables.landTombstones(
      ids.select(col(idCol).cast("long").as("id")).distinct(), table)
  }

  /** The probe-visible rows of a persisted minhash archive: stored
    * band rows minus tombstones (if any). Shared by every probe and
    * by compaction so the two cannot disagree on liveness. */
  private def liveMinhashRows(spark: SparkSession, table: String,
      bucketedRead: Boolean = false): DataFrame = {
    // heal a compactor crash's DROP/RENAME window first (the
    // committedIndex discipline; this tier's compactor swaps through
    // the one MergeTables shadow)
    MergeTables.recoverCompactCrash(spark, table)
    val stored =
      if (bucketedRead) graft.sources.MapFiles.readBucketed(spark, table)
      else MergeTables.freshView(spark, table)
    MergeTables.withoutTombstones(spark, table, stored, "id", "id")(
      identity)
  }

  /** [[incrementalMinhashPairs]] probing a PERSISTED archive index
    * instead of recomputing the corpus signatures per run — the
    * production screen: [[writeMinhashIndex]] runs once per archive
    * append, and each daily batch then costs only its own map-side
    * signatures, a band join that reads the stored side in bucketed
    * layout with NO shuffle on it (the index is already clustered by
    * `bkey`; only the batch's band rows — increment-sized — shuffle to
    * meet it), and candidate-restricted exact verification. The corpus
    * TEXT is touched only for candidate docs (left-semi pushdown);
    * corpus-wide shingle postings are never rebuilt and never shuffle.
    * Same output contract as [[incrementalMinhashPairs]]:
    * `(id_a = corpus id, id_b = batch id, jaccard)`, cross pairs only. */
  def incrementalMinhashPairsIndexed(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, table: String, n: Int,
      threshold: Double, numHashes: Int = 24, bands: Int = 6): DataFrame = {
    require(numHashes % bands == 0)
    val spark = corpus.sparkSession
    val r = numHashes / bands
    val bsigs = mapSideSignatures(batch, idCol, textCol, n, numHashes)
      .cache()
    val idx = liveMinhashRows(spark, table)
    val candidates = probeCandidates(spark, table, bsigs, bands, r)
      .distinct()
      .localCheckpoint(true) // reused by both semi-joins, inter and sizes
    // no distinct on the id lists (r22): they feed LEFT-SEMI joins only,
    // where duplicate build-side keys are semantics-free — each distinct
    // was one more exchange + AQE stage in the verification job, and the
    // undeduped lists stay candidate-bounded (2 ids per checkpointed
    // pair). The PAIR-level distinct above stays: interOf counts rows
    // per pair, so duplicate pairs would inflate intersections.
    val candA = candidates.select(col("id_a").as(idCol))
    val candB = candidates.select(col("id_b").as(idCol))
    val cds = shinglePostings(corpus.join(candA, Seq(idCol), "left_semi"),
      idCol, textCol, n)
    val bds = shinglePostings(batch.join(candB, Seq(idCol), "left_semi"),
      idCol, textCol, n)
    val inter = interOf(candidates, cds, bds)
    // corpus sizes come from the INDEX (each id carries n on every band
    // row — semi-join to the candidate set, then one candidate-sized
    // distinct), so the sizes lookup re-reads the bucketed table, not
    // the corpus
    val sizes = idx
      .join(candidates.select(col("id_a").as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("n")).distinct()
      .unionByName(bsigs.select(col("id"), col("n")))
    val pairs = jaccardOf(sizes, inter, threshold)
    materializeThenRelease(pairs, bsigs)
  }

  /** STREAMING ingest-dedup against the persisted archive index — the
    * production shape of [[incrementalMinhashPairsIndexed]] where the
    * daily increment arrives as a stream (readStream file source /
    * MemoryStream) instead of a batch frame: the arriving docs' map-side
    * signatures ([[graft.functions.MinhashSigsExpr]], a stateless scan
    * projection) band-explode and stream-static join the stored
    * [[writeMinhashIndex]] table, which is read in its bucketed layout
    * exactly as in the batch probe (the shared [[probeCandidates]] —
    * stream and batch CANNOT probe differently). Emits candidate pairs
    * `(id_a = corpus id, id_b = stream-batch id)` in append mode with
    * ZERO stream state: no watermark, no aggregation buffer — each
    * micro-batch costs its own signatures plus an increment-sized band
    * join, and the archive side never recomputes and never shuffles
    * (StreamingSpec asserts Bucketed + <=1 exchange on the micro-batch
    * `lastExecution` plan, broadcast disabled).
    *
    * Candidates may repeat across band collisions (the batch path's
    * `.distinct()` is a streaming aggregation, deliberately NOT applied
    * stream-side); exact Jaccard verification — which needs
    * candidate-restricted aggregation over the static corpus — runs
    * per-micro-batch via foreachBatch handing the increment to
    * [[incrementalMinhashPairsIndexed]] (StreamingSpec gates both:
    * stream candidates == batch probe on the same increment, and the
    * foreachBatch union over micro-batches == one batch screen). */
  def streamProbeCandidates(stream: DataFrame, idCol: String,
      textCol: String, table: String, n: Int, numHashes: Int = 24,
      bands: Int = 6): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes bands=$bands")
    probeCandidates(stream.sparkSession, table,
      mapSideSignatures(stream, idCol, textCol, n, numHashes),
      bands, numHashes / bands)
  }

  /** The probe-stage candidate join of [[incrementalMinhashPairsIndexed]]
    * — the stored index read in its bucketed layout against the batch's
    * band rows — pre-distinct, pre-checkpoint. Package-visible so
    * PlanQualitySpec can assert the stored side joins WITHOUT a shuffle
    * (the final frame hides behind localCheckpoint, as with q31). */
  private[graft] def probeCandidates(spark: SparkSession, table: String,
      bsigs: DataFrame, bands: Int, r: Int): DataFrame = {
    val bBand = bandRowsOf(bsigs, bands, r)
      .select(bkeyOf(col("band"), col("bsig")).as("bkey"),
        col("id").as("id_b"))
    liveMinhashRows(spark, table).as("x")
      .join(bBand.as("y"), col("x.bkey") === col("y.bkey"))
      .select(col("x.id").as("id_a"), col("y.id_b").as("id_b"))
  }

  /** (doc_id, idx) token positions covered by a cross-doc-duplicated
    * `l`-gram — the shared core of [[substringDupCoverage]] and
    * [[removeDuplicatedSpans]], so the coverage signal and the removal
    * transform can never drift apart. Postings are cached for their
    * double consumption (dup aggregation + probe side) and released
    * after the result materializes. May contain duplicate (doc_id, idx)
    * rows (overlapping spans) — consumers dedup as their aggregate
    * requires. */
  private def coveredPositions(docs: DataFrame, idCol: String,
      textCol: String, l: Int): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(shingles(col(textCol), l)).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        graft.pipeline.Portable.hash60Fast(col("s")).as("sh"))
      .cache()
    val dup = grams.groupBy("sh")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("sh")
    val covered = grams.join(dup, "sh")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(l - 1))).as("idx"))
    materializeThenRelease(covered, grams)
  }

  /** Exact-substring duplication coverage (the Lee et al. 2021
    * "Deduplicating Training Data" shape, token-granular): for every doc,
    * how many of its token positions sit inside an `l`-token span that
    * also appears verbatim in ANOTHER document. Returns
    * `(doc_id, n_tokens, dup_span_tokens, dup_span_frac)` for docs with
    * any coverage — the per-doc signal a span-removal pass keys on.
    *
    * Plan shape at scale: positional `l`-gram postings (8-byte hash +
    * position) feed one count-distinct-docs aggregation — the classic
    * inverted-index shuffle, map-side partial, bodies never move; the
    * position-coverage explode runs only on rows whose gram is globally
    * duplicated (rare), then dedups (doc, idx) pairs. Cross-doc only:
    * within-doc repetition is [[graft.pipeline.Curation.repetitionMetrics]]'s
    * job.
    */
  def substringDupCoverage(docs: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame = {
    val covered = coveredPositions(docs, idCol, textCol, l)
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_span_tokens"))
    val sizes = docs.select(col(idCol).as("doc_id"),
      size(filter(split(col(textCol), " "), w => length(w) > 0))
        .as("n_tokens"))
    covered.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("dup_span_tokens"),
        (col("dup_span_tokens").cast("double") / col("n_tokens"))
          .as("dup_span_frac"))
  }

  /** Span-removal dedup (the C4-style transform the
    * [[substringDupCoverage]] signal keys): rewrite every document with
    * its cross-doc-duplicated `l`-token spans removed (ALL covered
    * positions drop, in every doc carrying them — symmetric by
    * definition). Returns `(doc_id, text)` for EVERY input doc (cleaned
    * where covered, verbatim otherwise).
    *
    * The token bodies never shuffle: the covered-position sets aggregate
    * to one int-array row per affected doc (dup-rate-sized), join back
    * on doc_id, and the removal is a map-side indexed `filter` over the
    * token array. Reassembly therefore costs one id-keyed join, not a
    * corpus-wide token re-shuffle.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String,
      textCol: String, l: Int): DataFrame = {
    val dropIdx = coveredPositions(docs, idCol, textCol, l)
      .groupBy("doc_id").agg(collect_set("idx").as("drop_idx"))
    val ws = filter(split(col(textCol), " "), w => length(w) > 0)
    docs.select(col(idCol).as("doc_id"), ws.as("ws"))
      .join(dropIdx, Seq("doc_id"), "left")
      .select(col("doc_id"), array_join(
        filter(col("ws"), (w, i) =>
          !array_contains(coalesce(col("drop_idx"),
            array().cast("array<int>")), i)), " ").as("text"))
  }

  // ---------------------------------------------------------------- clusters

  /** Connected-component cluster assignment over near-dup pairs — the
    * step that turns pairwise similarity into keep/drop decisions: every
    * document in a component maps to the component's minimum id (its
    * canonical representative). Input is (id_a, id_b, ...) with
    * id_a < id_b; output is (doc_id, keep_id) for every id appearing in
    * a pair.
    *
    * Adaptive execution: below `driverThreshold` pairs, union-find on the
    * driver (one collect of bare id pairs — the graph is near-dup-rate-
    * sized, not corpus-sized); above it, distributed iterative min-label
    * propagation — each round, every node takes the minimum of its own
    * label and its neighbors' labels; converges in diameter rounds
    * (near-dup clusters are tiny — planted corpora converge in 2-3).
    * Each round is one join + one aggregation; labels are
    * localCheckpoint'd per round so the lineage (and thus the plan)
    * stays flat instead of doubling per iteration — the standard Spark
    * iterative-algorithm discipline. Convergence is detected by counting
    * changed labels (one tiny job per round, on label-sized data). */
  def clusters(pairs: DataFrame, maxIters: Int = 20,
      driverThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    // Adaptive: the pair graph is near-dup-rate-sized — usually tiny
    // relative to the corpus. Below the threshold, union-find on the
    // driver costs one collect of id pairs; the distributed path's
    // per-round job overhead only pays off on genuinely large graphs
    // (the same economics as a broadcast-join threshold).
    if (p.count() <= driverThreshold) {
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      p.as[(Long, Long)].collect().foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union toward the smaller root = min-id canonical
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a))
        parent.getOrElseUpdate(b, find(b))
      }
      return parent.keys.toSeq.sorted.map(id => (id, find(id)))
        .toDF("doc_id", "keep_id")
    }
    val edges = p
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("lbl").as("nbr_lbl"))
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      converged = updated.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).isEmpty
      labels = updated
      it += 1
    }
    // wrong keep/drop decisions must be loud, not silent: a component
    // with diameter > maxIters would exit with intermediate labels
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIters rounds — " +
      "raise maxIters (component diameter exceeds it)")
    labels.select(col("id").as("doc_id"), col("lbl").as("keep_id"))
  }

  // ---------------------------------------------------------------- simhash

  /** 60-bit SimHash over space-tokenized words weighted by term frequency:
    * bit j is set iff Σ_tokens cnt·(2·bit_j(hash(token))−1) > 0.
    * One explode + two hash aggregations; integer-exact across engines. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 60): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(filter(split(col(textCol), " "), t => length(t) > 0)).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("cnt"))
      .select(col("id"), Portable.hash60Fast(col("w")).as("h"), col("cnt"))
    val bitSums = (0 until bits).map { j =>
      sum(col("cnt") * (shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1))
        .as(s"b$j")
    }
    toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id").as("doc_id"),
        (0 until bits).map(j =>
          shiftleft(when(col(s"b$j") > 0, 1L).otherwise(0L), j))
          .reduce(_ + _).as("simhash"))
  }
}
