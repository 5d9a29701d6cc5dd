package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs on
  * top of the dedup/similarity/text-analysis tiers: repetition metrics
  * (Gopher-style quality signals), benchmark-contamination screening,
  * per-domain quota capping, PII-style masking, and deterministic shard
  * assignment for the final training shuffle.
  *
  * Design rules shared with [[TextAnalysis]]: every per-document value is
  * a pure function of the row (reproducible across engines, re-runs, and
  * repartitionings — no RNG, no partition-dependent state), integer
  * counts wherever possible, and any double is produced by a single
  * division of two integers so the DuckDB oracle is bit-equal.
  */
object Curation {

  private def words(text: Column): Column = TextAnalysis.words(text)

  /** Max multiplicity over the elements of an array — the count of the
    * modal element. One pass over a SORTED copy (equal elements are
    * adjacent, so a running (prev, run, best) fold finds the longest
    * run): O(n log n) per row instead of the O(distinct × n) nested
    * transform/filter, which went quadratic on long high-diversity
    * documents. Still map-side only, which is the whole point at 100 TB
    * (a groupBy(doc, word) would shuffle every token). Returns null for
    * an empty array, like the array_max it replaces.
    */
  private def topMultiplicity(arr: Column): Column = {
    val folded = aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"),
        lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(st.getField("prev") <=> x,
          st.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    when(size(arr) > 0, folded)
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    * use duplicate-line/paragraph fractions and top-n-gram fractions as
    * quality filters; this corpus is single-line so the word and bigram
    * levels are the meaningful ones).
    *
    * Emits integer counts plus the derived fractions:
    *   - `dup_words`       tokens minus distinct tokens
    *   - `top_word_cnt`    multiplicity of the modal token
    *   - `top_bigram_cnt`  multiplicity of the modal word-bigram
    *   - `dup_word_frac`   dup_words / n_tokens
    *   - `top_bigram_frac` top_bigram_cnt / (n_tokens − 1)
    *   - `repetitive`      the Gopher-flavored flag; default thresholds
    *                       sit at the corpus's p90/p95 (measured at
    *                       sf0.01: dup_word_frac p50 0.54 / p90 0.68 /
    *                       max 0.72; top_bigram_frac p50 0.033 / p95
    *                       0.087 / max 0.167) so the flag isolates the
    *                       repetitive tail rather than the organic bulk
    *
    * Entirely map-side (one projection, no shuffle, no UDF) — cost is one
    * linear scan regardless of corpus size.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String,
      dupFracMax: Double = 0.68, topBigramFracMax: Double = 0.08): DataFrame = {
    val ws = words(col(textCol))
    val bg = Dedup.shingles(col(textCol), 2)
    // degenerate docs (empty / single-token) define as zero counts and
    // 0.0 fractions, not null arithmetic: array_max of an empty array is
    // null and n/(n-1) divides by zero at n=1
    docs.select(
        col(idCol).as("doc_id"),
        size(ws).as("n_tokens"),
        (size(ws) - size(array_distinct(ws))).as("dup_words"),
        coalesce(topMultiplicity(ws), lit(0)).as("top_word_cnt"),
        coalesce(topMultiplicity(bg), lit(0)).as("top_bigram_cnt"))
      .withColumn("dup_word_frac",
        when(col("n_tokens") > 0,
          col("dup_words").cast("double") / col("n_tokens")).otherwise(0.0))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") > 1,
          col("top_bigram_cnt").cast("double") / (col("n_tokens") - 1))
          .otherwise(0.0))
      .withColumn("repetitive",
        col("dup_word_frac") > dupFracMax ||
        col("top_bigram_frac") > topBigramFracMax)
  }

  /** The `repetitive` verdict of [[repetitionMetrics]] as one composable
    * Column over raw text (same integer divisions, so the same flag). */
  def repetitiveFlag(text: Column, dupFracMax: Double = 0.68,
      topBigramFracMax: Double = 0.08): Column = {
    val ws = words(text)
    val bg = Dedup.shingles(text, 2)
    val dupFrac = when(size(ws) > 0,
      (size(ws) - size(array_distinct(ws))).cast("double") / size(ws))
      .otherwise(0.0)
    val bgFrac = when(size(ws) > 1,
      coalesce(topMultiplicity(bg), lit(0)).cast("double") / (size(ws) - 1))
      .otherwise(0.0)
    dupFrac > dupFracMax || bgFrac > topBigramFracMax
  }

  /** Benchmark-contamination screen: for every corpus document, the number
    * of distinct word n-grams it shares with ANY document of the held-out
    * evaluation set (the n-gram-overlap decontamination rule used for
    * GPT-3/Gopher/Llama training sets). Returns only contaminated docs —
    * `(doc_id, shared_grams)` with `shared_grams >= minShared` — since at
    * corpus scale the clean set is the overwhelming majority.
    *
    * Shape at 100 TB: the eval set is benchmark-sized (thousands of docs,
    * millions of grams — broadcastable by construction); corpus grams are
    * hashed 60-bit map-side ([[Portable.hash60Fast]]) and probe the
    * broadcast WITHOUT any pre-dedup — deduplication happens in the
    * per-doc `countDistinct` AFTER the join, so only the (rare) hit rows
    * ever reach an exchange. The corpus never shuffles at all, not even
    * its gram hashes (plan-asserted in CurationSpec: the only exchange is
    * the hit aggregation's).
    */
  def contamination(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minShared: Long = 1L): DataFrame = {
    val corpusGrams = corpus.select(col(idCol).as("id"),
        explode(Dedup.shingles(col(textCol), n)).as("s"))
      .select(col("id"), Portable.hash60Fast(col("s")).as("sh"))
    val evalGrams = Dedup.shinglePostings(eval, idCol, textCol, n)
      .select(col("sh")).distinct()
    corpusGrams.join(broadcast(evalGrams), "sh")
      .groupBy(col("id").as("doc_id"))
      .agg(countDistinct(col("sh")).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** Contamination screening as a STREAM-COMPATIBLE map-side filter: the
    * static eval-set gram hashes are broadcast once and every document
    * tests its own grams locally — no join, no state, so the same call
    * works on a batch frame or a `readStream` (demonstrated on a
    * MemoryStream in CurationSpec). Returns the docs with NO gram in the
    * eval set — the decontaminated survivors.
    *
    * Two membership structures, chosen by `fpp`:
    *   - `None` (default): the EXACT sorted `Array[Long]` of eval gram
    *     hashes + binary search. Benchmark suites are small — 8 bytes per
    *     distinct gram broadcasts fine into the hundreds of millions —
    *     and the verdict is exact, so this path is oracle-gated (q72).
    *   - `Some(p)`: a Bloom sketch for eval sets too large to broadcast
    *     exactly. One-sided: clean verdicts stay exact; a contaminated
    *     verdict may be a false positive. NOTE measured on this corpus:
    *     Spark's sketch (double-hashing) floors ~100x above the requested
    *     p at high hash counts (p=1e-6 behaved like ~1e-4 — 3 clean docs
    *     of 486 dropped), which is why the sketch is the opt-in and not
    *     the default. Over-dropping a few clean docs per million is an
    *     acceptable trade for training corpora; silently failing an
    *     exactness gate is not.
    *
    * The eval grams are collected driver-side — one bounded action over
    * the benchmark set only, never the corpus.
    */
  def decontaminateBroadcast(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 4,
      fpp: Option[Double] = None): DataFrame = {
    val spark = corpus.sparkSession
    val anyHit = fpp match {
      case None => evalGramHit(evalSet, idCol, textCol, n)
      case Some(p) =>
        val evalGrams = Dedup.shinglePostings(evalSet, idCol, textCol, n)
          .select("sh")
        val bf = evalGrams.stat.bloomFilter("sh",
          math.max(1L, evalGrams.count()), p)
        val bfB = spark.sparkContext.broadcast(bf)
        udf((grams: Seq[Long]) => grams != null &&
          grams.exists(g => bfB.value.mightContainLong(g)))
    }
    val grams = transform(Dedup.shingles(col(textCol), n),
      s => Portable.hash60Fast(s))
    corpus.filter(!anyHit(grams))
  }

  /** FUZZY decontamination (qa7) — the near-duplicate complement of
    * [[decontaminateBroadcast]]: that op drops a training doc only if it
    * shares an exact n-gram with the eval set, so a lightly paraphrased
    * or re-wrapped eval document slips through. This one drops every
    * training doc whose shingle-set Jaccard with ANY eval doc reaches
    * `threshold`, using the SAME banded MinHash screen as the dedup tier
    * ([[Dedup.incrementalMinhashPairs]] with the eval set as the
    * "corpus" side and the training corpus as the "batch") followed by
    * candidate-restricted EXACT Jaccard verification — so the verdict is
    * exact-at-threshold, not an LSH approximation, and the qa7 oracle
    * recomputes it from raw text. Returns the surviving
    * `(doc_id, source)` rows, [[decontaminateBroadcast]]'s contract.
    *
    * Scale shape: everything corpus-sized is map-side (signatures in the
    * scan via the native minhash kernel; band rows explode from them);
    * the band join is keyed on (band, bsig) buckets and only
    * eval-matching candidates reach the exact verify, so cost is
    * O(corpus shingles + cross candidates) — never eval × corpus. The
    * contaminated-id set is bounded by the candidate volume (eval-sized
    * × near-dup rate), so the final anti-join broadcasts ids only and
    * the corpus text never enters an exchange (plan-asserted: the
    * survivor stage is scan → broadcast anti-join, zero shuffles). Ids
    * must be disjoint between corpus and eval (they key the joins). */
  def fuzzyDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, srcCol: String, n: Int,
      threshold: Double, numHashes: Int = 24, bands: Int = 6): DataFrame = {
    val pairs = Dedup.incrementalMinhashPairs(evalSet, corpus, idCol,
      textCol, n, threshold, numHashes, bands)
    // no distinct: an anti-join build side tolerates duplicate ids, and
    // the dedup aggregate would cost this stage its only-exchange-free
    // shape (one ENSURE_REQUIREMENTS shuffle) for zero semantic gain
    val bad = pairs.select(col("id_b").as(idCol))
    corpus.join(broadcast(bad), Seq(idCol), "left_anti")
      .select(col(idCol).as("doc_id"), col(srcCol).as("source"))
  }

  /** Exact broadcast eval-gram membership predicate: applied to a hashed
    * gram array, TRUE iff any gram is in the eval set's distinct gram
    * hashes (driver-collected — benchmark-bounded — then broadcast as a
    * sorted array + binary search). Completely stateless, so the same
    * predicate runs unchanged on a batch frame or a stream — it is both
    * [[decontaminateBroadcast]]'s exact path and [[cleanCorpusStream]]'s
    * contamination verdict. */
  private def evalGramHit(evalSet: DataFrame, idCol: String,
      textCol: String, n: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val spark = evalSet.sparkSession
    val sorted = Dedup.shinglePostings(evalSet, idCol, textCol, n)
      .select("sh").distinct().collect().map(_.getLong(0)).sorted
    val setB = spark.sparkContext.broadcast(sorted)
    udf((grams: Seq[Long]) => grams != null &&
      grams.exists(g => java.util.Arrays.binarySearch(setB.value, g) >= 0))
  }

  /** Per-domain quota capping (the Common-Crawl-style "at most k documents
    * per registered domain" rule): keep the k docs per group that rank
    * first under the portable content hash — a deterministic uniform
    * sample, not a popularity-ordered one, so no domain's internal
    * ordering biases what survives. Returns (doc_id, group, rk).
    *
    * One hash-partition shuffle on the group key; `WindowExec` sorts each
    * group and spills if a domain exceeds memory. For pathological
    * mega-domains the bounded-heap [[graft.agg.TopKAggregator]] (q45) is
    * the partial-aggregating alternative: it caps per-group state at k
    * BEFORE the shuffle, at the cost of losing the rank column's
    * generality. The window form is the declarative default.
    */
  def domainQuota(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(textCol)), col(idCol))
    docs.select(col(idCol).as("doc_id"), col(groupCol),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= k)
  }

  /** Token-budget packing (the "sample a fixed-token-count training mix"
    * step): per group, walk the docs in portable content-hash order and
    * keep each doc whose predecessors haven't yet consumed the budget —
    * so every group contributes ≈ `budgetTokens` whitespace tokens (the
    * first over-budget doc is kept, matching the greedy take-while; the
    * returned `cum_tokens` running total makes the cut auditable).
    * Deterministic: a pure function of (group, content) — re-runs and
    * engines agree on the sampled set. Returns
    * `(doc_id, group, n_tokens, cum_tokens)`.
    *
    * Same shuffle shape as [[domainQuota]]: one hash partition by group,
    * per-group sort in `WindowExec` (spillable). The kept OUTPUT is
    * budget-bounded per group even when a group's input is huge.
    */
  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetTokens: Long): DataFrame = {
    val projected = docs.select(col(idCol).as("doc_id"), col(groupCol),
      size(words(col(textCol))).as("n_tokens"), md5(col(textCol)).as("_h"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    projected.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .drop("_h")
  }

  /** Sequence packing for training batches: assign every document to the
    * fixed-token-budget batch in which it STARTS when the shard's docs
    * are laid end-to-end in portable content-hash order — the classic
    * whole-document greedy fill (a doc that straddles a boundary belongs
    * to the batch it starts in, so batches overflow by at most one doc,
    * never split one). Deterministic integer arithmetic end-to-end:
    * batch_id = (running_total_before_doc) div budget over the
    * hash-ordered running sum. Returns
    * `(doc_id, shard, n_tokens, batch_id)`.
    *
    * Same shuffle shape as [[tokenBudgetSample]]: one hash partition by
    * shard, per-shard sorted window (spillable); the shard key itself is
    * [[shardId]]'s content hash, so the whole layout — shard, order, and
    * batch — is a pure function of document content.
    */
  def packBatches(docs: DataFrame, idCol: String, textCol: String,
      numShards: Int, budgetTokens: Long): DataFrame = {
    val projected = docs.select(col(idCol).as("doc_id"),
      shardId(col(textCol), numShards).as("shard"),
      size(words(col(textCol))).as("n_tokens"),
      md5(col(textCol)).as("_h"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("_h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    projected.withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("batch_id",
        expr(s"(cum - n_tokens) div ${budgetTokens}L"))
      .select("doc_id", "shard", "n_tokens", "batch_id")
  }

  /** Deterministic epoch shuffle (qa5) — the training-order layout every
    * epoch needs: each document gets a pseudorandom but REPRODUCIBLE
    * position derived only from `(seed, doc_id)`, then a shard and a
    * contiguous 0-based offset within its shard. A new seed is a new
    * epoch-wide permutation; the same seed replays byte-identically on
    * any cluster, partitioning, or engine (the DuckDB oracle reproduces
    * it row for row). The reference's analog is the map-output
    * partitioner contract (`mapred/lib/HashPartitioner.java:35` — a pure
    * key function deciding placement); this re-keys that idea to a
    * seeded content hash so the "partitioner" itself is a replayable
    * epoch parameter.
    *
    * Returns `(doc_id, shard, offset)` — a reader streams shard s in
    * offset order and the concatenation across shards is the epoch's
    * global order.
    *
    * Scale shape: one projection computes the 60-bit position hash
    * map-side; the ONLY exchange carries (doc_id, h) — ~16 bytes/row at
    * any corpus size — hash-partitioned by shard; the per-shard
    * `row_number` sorts one shard per window partition. Shard count is
    * the caller's scale knob: size `nShards` so corpus/nShards rows fit
    * an executor's sort spill budget (at 100 TB and 10k shards that is
    * 10 GB of 16-byte rows per shard — a plain external sort, no driver
    * state anywhere). Ties on the hash resolve by doc_id, so duplicate
    * hash values cannot make the order partition-dependent. */
  def epochShuffle(docs: DataFrame, idCol: String, nShards: Int,
      seed: String): DataFrame = {
    require(nShards > 0, s"nShards=$nShards")
    val h = Portable.hash60Fast(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    docs.select(col(idCol).as("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("offset", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long") - 1L)
      .select("doc_id", "shard", "offset")
  }

  /** PII-style masking: replace emails, North-American phone numbers, and
    * bare digit runs with typed placeholder tokens, and count each kind.
    * Patterns are written in the RE2-compatible subset (no backrefs, no
    * lookaround) so Java regex (Spark) and RE2 (DuckDB/Go scrubbers)
    * agree byte-for-byte. Order matters and is part of the contract:
    * emails before phones before numbers, so a masked email's digits are
    * not re-masked. Map-side codegen'd projection — linear scan, no
    * shuffle.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
  val numberPattern = "[0-9]+"

  /** Overlapping token-window chunking — context-window preparation for
    * training and retrieval: each document re-emits as windows of
    * `windowTokens` tokens advancing by `windowTokens - overlap` (the
    * last window may be shorter; token-less documents emit nothing).
    * The reference's closest analog is fixed-count record splitting
    * (`mapred/lib/NLineInputFormat.java:59` — N lines per split); this
    * operator applies the same idea at token granularity with overlap,
    * which input splits cannot express.
    * Pure map-side explode — a 100 TB corpus chunks in one scan with no
    * shuffle, and chunk identity is a pure function of the row, so
    * re-runs and engines agree. Integer arithmetic only:
    * nChunks = 1 + (max(0, n - window) + stride - 1) / stride.
    * Returns (doc_id, chunk_id, chunk, n_tokens). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, overlap: Int): DataFrame = {
    require(windowTokens > 0 && overlap >= 0 && overlap < windowTokens,
      s"window=$windowTokens overlap=$overlap")
    val stride = windowTokens - overlap
    docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") > 0)
      // floor over double is exact here (n is an Int-ranged count, far
      // below 2^52); Spark's `/` on integers is double division, so the
      // explicit floor IS the integer ceil-division DuckDB writes as `//`
      .withColumn("nc",
        (lit(1) + floor((greatest(lit(0), col("n") - windowTokens)
          + (stride - 1)) / lit(stride))).cast("int"))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        array_join(slice(col("ws"),
          col("chunk_id") * stride + 1, lit(windowTokens)), " ")
          .as("chunk"),
        least(lit(windowTokens), col("n") - col("chunk_id") * stride)
          .cast("int").as("n_tokens"))
  }

  /** Leakage-safe train/val/test split (q97): assign every EXACT-CONTENT
    * duplicate group to one split, so a document duplicated across the
    * corpus can never sit in train while its twin sits in eval — the
    * contamination mode a per-document hash split (q57's
    * `stratifiedSplit`) cannot prevent. The split key is the group
    * REPRESENTATIVE (min doc id over identical md5 bodies, the
    * [[Dedup.exact]] winner rule); the representative's ID is hashed by
    * the portable hash into 100 cells: < `pctTrain` train,
    * < `pctTrain + pctVal` val, else test. Note the bucket keys on the
    * representative's id, not the group's content — assignment is
    * replay-stable across partition layouts and engines for a FIXED id
    * assignment, but not invariant under doc-id renumbering (hash the
    * group's md5 fingerprint instead if that invariance matters).
    *
    * Scale: documents reduce to (doc_id, fp) before the only exchange —
    * one shuffle of 40-byte rows keyed by fingerprint, the body never
    * moves; the representative comes from a window min over the
    * fingerprint partition (no second join shuffle). Returns
    * (doc_id, rep, bucket, split). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      pctTrain: Int = 80, pctVal: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pctTrain > 0 && pctVal >= 0 && pctTrain + pctVal <= 100,
      s"pctTrain=$pctTrain pctVal=$pctVal")
    val keyed = docs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("fp"))
    val rep = min(col("doc_id")).over(Window.partitionBy("fp"))
    val bucket = pmod(Portable.hash60Fast(rep.cast("string")), lit(100L))
      .cast("int")
    keyed.select(col("doc_id"), rep.as("rep"), bucket.as("bucket"))
      .select(col("doc_id"), col("rep"), col("bucket"),
        when(col("bucket") < pctTrain, "train")
          .when(col("bucket") < pctTrain + pctVal, "val")
          .otherwise("test").as("split"))
  }

  def maskPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(p: String) = size(regexp_extract_all(t, lit(p), lit(0)))
    df.select(
      col(idCol),
      cnt(emailPattern).as("n_emails"),
      cnt(phonePattern).as("n_phones"),
      cnt(numberPattern).as("n_numbers"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>"),
        numberPattern, "<NUM>").as("masked"))
  }

  /** Temperature-based source mixing (the multilingual / Pile-style
    * α-sampling recipe): target source shares ∝ n_s^alpha, realized as
    * deterministic per-source keep-rates r_s = (n_s / n_min)^(alpha−1) —
    * alpha=1 keeps everything (natural mix), alpha=0 equalizes every
    * source to the smallest, between flattens the head toward the tail.
    * The smallest source always keeps rate 1.
    *
    * Two-phase, both scale-safe: a per-source count aggregate (one row
    * per source — collected driver-side like every bounded-dimension
    * action in this library) builds a LITERAL threshold map; the sample
    * itself is [[graft.ops.Sampling.stratified]]'s map-side content-hash
    * predicate — the corpus is never shuffled, and the kept set is a pure
    * function of (row, counts), stable across re-runs and engines.
    */
  def temperatureMix(docs: DataFrame, idCol: String, srcCol: String,
      alpha: Double, denom: Int = 10000): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha=$alpha outside [0,1]")
    // null group keys are skipped: they'd be an invalid typedLit map key,
    // and stratified's defaultFrac=0.0 drops their rows anyway
    val counts = docs.groupBy(col(srcCol)).count().collect()
      .filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) // empty input: empty output, same shape
      return docs.select(col(idCol).as("doc_id"), col(srcCol)).limit(0)
    val nMin = counts.values.min.toDouble
    val fracs = counts.map { case (s, n) =>
      s -> math.pow(n / nMin, alpha - 1.0)
    }
    docs.filter(graft.ops.Sampling.stratified(col(srcCol), col(idCol),
        fracs, defaultFrac = 0.0, denom = denom))
      .select(col(idCol).as("doc_id"), col(srcCol))
  }

  /** The end-to-end corpus-cleaning pipeline (the C4/Gopher recipe shape):
    * exact dedup (keep the min-id copy), repetition filter, quality floor,
    * and benchmark-contamination screen, reported as per-source survival
    * statistics — `(source, n_docs, n_dup, n_repetitive, n_contaminated,
    * n_low_quality, n_kept)`. Drop reasons are independent indicators (a
    * doc can fail several); `n_kept` counts docs failing none.
    *
    * 100 TB shape: ONE map-side projection computes every per-doc verdict
    * column plus the md5 fingerprint — document bodies never shuffle. The
    * dedup agg exchanges (16-byte fp, 8-byte id); the contamination probe
    * broadcasts eval grams ([[contamination]]); the verdict joins exchange
    * ids and booleans only; the final rollup is a partial-agg'd groupBy on
    * the (low-cardinality) source key.
    */
  def cleanCorpus(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, srcCol: String, qualityFloor: Double = 0.5,
      contaminationN: Int = 4): DataFrame = {
    val t = col(textCol)
    // degenerate docs (no tokens / no chars) have NULL quality — count
    // them low-quality rather than letting a NULL verdict leave them in
    // n_docs but in no drop bucket and not in n_kept (the reconciliation
    // contract above)
    val flagged = corpus.select(
      col(idCol).as("doc_id"), col(srcCol).as("source"),
      repetitiveFlag(t).as("repetitive"),
      coalesce(TextAnalysis.qualityExpr(t) < qualityFloor, lit(true))
        .as("low_quality"),
      md5(t).as("fp"))
    val first = flagged.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("is_first"))
    val cont = contamination(corpus, evalSet, idCol, textCol, contaminationN)
      .select(col("doc_id"), lit(true).as("cont"))
    survivalRollup(flagged.join(first, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("is_first"), lit(false)) === lit(false))
      .withColumn("is_cont", coalesce(col("cont"), lit(false))))
  }

  /** Per-source survival stats from a fully-flagged frame — the one
    * aggregation [[cleanCorpus]] and [[cleanCorpusStream]] share, so the
    * batch and streaming pipelines cannot drift apart. */
  private def survivalRollup(flags: DataFrame): DataFrame = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    flags.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      cnt(col("is_dup")).as("n_dup"),
      cnt(col("repetitive")).as("n_repetitive"),
      cnt(col("is_cont")).as("n_contaminated"),
      cnt(col("low_quality")).as("n_low_quality"),
      cnt(!col("is_dup") && !col("repetitive") && !col("is_cont") &&
        !col("low_quality")).as("n_kept"))
  }

  /** The [[cleanCorpus]] composition as ONE STREAMING query — the §2.8
    * batch=stream claim for the whole pipeline, oracle-gated (q70s runs
    * this over a `readStream` of the corpus against the same DuckDB
    * oracle as q70). Streaming shape of each stage:
    *
    *  - repetition / quality / fingerprint: stateless map-side
    *    projections — the IDENTICAL expressions to the batch path;
    *  - dedup: first-occurrence-wins against the corpus FINGERPRINT
    *    INDEX (min doc id per md5 of the static `corpus` frame), a
    *    stream-static left join. A stream deduplicates against an index,
    *    not via unbounded per-key state (the q73 incremental-dedup
    *    archive shape) — and unlike streaming `dropDuplicates`, whose
    *    winner depends on arrival order, the index verdict is
    *    order-independent, which is what lets one oracle gate both modes;
    *  - contamination: the broadcast gram probe ([[evalGramHit]] — no
    *    join, no state);
    *  - rollup: the single streaming aggregation (complete output mode),
    *    shared with the batch path via [[survivalRollup]].
    */
  def cleanCorpusStream(stream: DataFrame, corpus: DataFrame,
      evalSet: DataFrame, idCol: String, textCol: String, srcCol: String,
      qualityFloor: Double = 0.5, contaminationN: Int = 4): DataFrame = {
    val t = col(textCol)
    val hit = evalGramHit(evalSet, idCol, textCol, contaminationN)
    val grams = transform(Dedup.shingles(t, contaminationN),
      s => Portable.hash60Fast(s))
    val flagged = stream.select(
      col(idCol).as("doc_id"), col(srcCol).as("source"),
      repetitiveFlag(t).as("repetitive"),
      coalesce(TextAnalysis.qualityExpr(t) < qualityFloor, lit(true))
        .as("low_quality"),
      hit(grams).as("is_cont"),
      md5(t).as("fp"))
    val index = corpus
      .groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("first_id"))
    survivalRollup(flagged.join(index, Seq("fp"), "left")
      .withColumn("is_dup",
        coalesce(col("doc_id") =!= col("first_id"), lit(false))))
  }

  /** Deterministic shard id in [0, numShards) from document content — the
    * final "global shuffle" of a training-data pipeline, as a pure
    * function of the row: every engine, run, and retry agrees on the
    * shard of every document, so shard sets are reproducible and
    * incremental re-runs are stable (unlike `repartition(n)` round-robin,
    * which depends on input split order).
    */
  def shardId(text: Column, numShards: Int): Column =
    pmod(Portable.hash60(text), lit(numShards.toLong))

  /** Write the corpus as content-sharded parquet: one directory per
    * shard, rows within a shard ordered by content hash (a deterministic
    * within-shard shuffle — adjacent source docs land apart). The
    * repartition targets one write task per shard; at real scale use
    * `numShards` well above executor count and this is exactly the
    * classic sharded-training-set writer.
    */
  def writeShards(docs: DataFrame, textCol: String, numShards: Int,
      out: String): Unit =
    docs.withColumn("shard", shardId(col(textCol), numShards))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(md5(col(textCol)))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
}
