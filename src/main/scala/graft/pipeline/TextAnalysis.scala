package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, and order-sensitive fingerprinting.
  * Everything is a single codegen'd projection (no UDFs, no shuffle), so
  * cost is one linear scan regardless of corpus size, and every value is
  * reproducible by the DuckDB oracle (integer counts + fixed-order IEEE
  * arithmetic).
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language-ID heuristic. Shared with the oracle SQL builders. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有"))

  /** The canonical tokenizer every pipeline metric shares (package-private
    * so Curation reuses this definition instead of copying it). */
  private[pipeline] def words(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** Stopword hits (with repeats) for one language list. */
  private def hits(ws: Column, list: Seq[String]): Column =
    size(filter(ws, w => array_contains(lit(list.toArray), w)))

  /** Language ID by stopword-hit argmax; ties resolve in [[stopwords]]
    * order (en before es before zh). Emits the per-language scores too so
    * the oracle checks the whole computation, not just the argmax. */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    val scored = docs.select(
      col(idCol).as("doc_id") +:
      stopwords.map { case (lang, list) => hits(ws, list).as(s"s_$lang") }: _*)
    val detected = stopwords.init.foldRight(lit(stopwords.last._1)) {
      case ((lang, _), rest) =>
        val later = stopwords.dropWhile(_._1 != lang).tail
        when(later.map(o => col(s"s_$lang") >= col(s"s_${o._1}"))
          .reduce(_ && _), lang).otherwise(rest)
    }
    scored.withColumn("detected", detected)
  }

  /** Heuristic quality score from length, punctuation, and stopword
    * density — all ratios are int/int single divisions, then one fixed
    * weighted sum, so scores are bit-equal across engines. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val nTok = size(ws)
    val nChars = length(t)
    val sumLen = aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), _ + _)
    val punct = nChars - length(regexp_replace(t, "[.,!?;:]", ""))
    val stops = hits(ws, stopwords.head._2)
    // zero-guards: ANSI mode throws on the 0/0 a degenerate (empty /
    // whitespace-only) doc would hit; such docs score 0.0 ratios
    docs.select(
      col(idCol).as("doc_id"),
      nTok.as("n_tokens"),
      when(nTok > 0, sumLen / nTok).otherwise(0.0).as("avg_tok_len"),
      when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0)
        .as("punct_ratio"),
      when(nTok > 0, stops.cast("double") / nTok).otherwise(0.0)
        .as("stop_ratio"))
      .withColumn("quality",
        when(col("n_tokens") > 0, // degenerate docs: 0.0, matching qualityExpr
          lit(0.4) * least(lit(1.0), col("n_tokens") / 100.0) +
          lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.3) * least(lit(1.0), col("stop_ratio") * 5))
          .otherwise(0.0))
  }

  /** The quality score as a single composable Column over raw text —
    * the same arithmetic as [[qualityScore]]'s `quality` output (identical
    * int-division/IEEE order, asserted equal in CurationSpec), for
    * pipelines that fold the score into one projection instead of
    * joining the metrics frame. */
  def qualityExpr(t: Column): Column = {
    val ws = words(t)
    val nTok = size(ws)
    val nChars = length(t)
    val punct = nChars - length(regexp_replace(t, "[.,!?;:]", ""))
    val stops = hits(ws, stopwords.head._2)
    // CASE short-circuits, so the guarded branch never divides by zero
    // (ANSI mode throws on 0/0); degenerate docs score a well-defined 0.0
    when(nTok > 0 && nChars > 0,
      lit(0.4) * least(lit(1.0), nTok / 100.0) +
        lit(0.3) * (lit(1.0) - punct.cast("double") / nChars) +
        lit(0.3) * least(lit(1.0), (stops.cast("double") / nTok) * 5))
      .otherwise(0.0)
  }

  /** Corpus-relative fluency score: the average corpus frequency of a
    * doc's tokens — a unigram-LM quality proxy (docs full of corpus-rare
    * tokens score low, like high-perplexity docs under a real LM) that
    * stays INTEGER-EXACT: per-doc output is sum(corpus count of token,
    * with repeats) and one final int/int division, so the oracle is
    * bit-equal (no log/pow).
    *
    * Two phases, both scale-shaped: the vocabulary count aggregate
    * shuffles (token-hash, count) pairs — vocab-sized, not corpus-sized —
    * and the per-doc score joins each token posting against it. The join
    * is keyed on the token hash; its "the"-sized head keys are the
    * classic skew case, so at broadcast-viable vocab sizes Spark's
    * planner broadcasts (this corpus), and beyond that
    * [[graft.ops.Skew]]'s salted join is the drop-in (same key column).
    */
  def fluencyScore(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    toks.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("cnt").as("sum_freq"))
      .withColumn("avg_freq",
        col("sum_freq").cast("double") / col("n_tokens"))
  }

  /** Distinctive-term (keyword) extraction, the tf-idf shape: each doc's
    * top-k terms by (term frequency desc, document frequency asc, term
    * asc). That integer ordering is the determinism-first stand-in for
    * the classic tf·ln(N/df) score — rarest-and-most-repeated terms rank
    * first — chosen because it is EXACTLY reproducible by a second
    * engine: cross-engine `ln` is not bit-contracted, and a near-tie in
    * tf·idf would make the gate flaky (the q35c fp-risk class, avoided
    * here outright). Callers wanting the float score compose it from the
    * returned (tf, df) and their own N.
    *
    * Returns (doc_id, term, tf, df, rank) with rank <= k.
    *
    * Scale shape: tf is a (doc, term)-keyed agg with map-side partials;
    * df aggregates the ALREADY doc-distinct tf rows (vocab-sized
    * output); the join back is per-distinct-doc-term, and the per-doc
    * top-k uses the grouped partial-collect pattern (doc-bounded lists),
    * never a corpus-wide window sort. */
  def distinctiveTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .groupBy("doc_id").agg(slice(array_sort(collect_list(struct(
        (-col("tf")).as("ntf"), col("df"), col("term"), col("tf")))),
        1, k).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "v")))
      .select(col("doc_id"), col("v.term").as("term"), col("v.tf").as("tf"),
        col("v.df").as("df"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** BM25 lexical top-k retrieval — the sparse leg every retrieval stack
    * pairs with the ANN tier (q35/q76/q77 are the dense legs; qb2 fuses
    * the two): for each query, the k best documents by the Lucene BM25
    * weight Σ_t ln(1 + (N − df + ½)/(df + ½)) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)) over the query's distinct terms.
    * Reference analog: the Grep example's search-then-rank shape
    * (examples/Grep.java) upgraded to a scored ranking.
    *
    * Determinism contract: cross-engine `ln` is not bit-contracted (the
    * q35c fp-risk class [[distinctiveTerms]] avoids outright), so ranking
    * on the raw double would flip near-ties. Instead scores are QUANTIZED
    * to integer micro-units — `score_u = floor(score · 1e6)`, the
    * driver's own float tolerance — before ranking: genuine near-ties
    * collapse to equal longs on both engines and break by doc_id; a flip
    * now needs the sum to straddle a 1e-6 grid line within the engines'
    * ~1e-15 disagreement, vanishingly rarer than a raw near-tie.
    * Returns (q_id, doc_id, rank, score_u), rank <= k.
    *
    * Scale shape: the distinct query-term set broadcasts and
    * candidate-restricts EVERYTHING — only postings whose term some query
    * mentions reach any aggregate, so corpus text bodies never shuffle
    * (plan-asserted). df needs no corpus-wide vocabulary: a term's
    * containing-doc count equals its candidate-postings count, and the
    * (term, df) / per-query-term tables re-enter as broadcasts (query-
    * scale). N and avgdl are one partial-agg'd scan, read on the driver
    * and passed as literals ([[scalarCols]]). The per-query top-k
    * is the bounded-state [[graft.agg.TopKAggregator]] (map-side partial,
    * ≤k rows per query per task into the shuffle) — never a window sort
    * of a popular term's full candidate set through one reducer. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      conjunctive: Boolean = false): DataFrame = {
    val stats = corpusStats(docs, textCol).head()
    // lazy checkpoint: qterms re-enters as the candidate restriction
    // AND bm25Rank's broadcast — cache on first compute so the query
    // subtree derives once (query-scale rows)
    val qterms = queryTerms(queries, qIdCol, qTextCol)
      .localCheckpoint(false)
    // Materialize the candidate postings ONCE (r21): bm25Rank references
    // tf twice (the df aggregate + the weight join) and Spark plans no
    // common-subtree reuse, so the corpus tokenize/explode/restrict pass
    // — the dominant cost of the scan path, measured ~0.8 s of qb1's
    // ~2.2 s at sf0.1 — executed twice per probe. The checkpoint (the
    // q31/q73 reused-frame pattern) holds candidate-scale aggregates
    // only: (doc_id, term, dl, tf), query-term-restricted, no text
    // bodies — the frame the design already declares candidate-sized.
    // NOTE (ADVICE r21): the EAGER checkpoint runs a Spark job at
    // DataFrame-construction time, and the executed probe plan no
    // longer shows the corpus stage — PlanQualitySpec gates the
    // pre-checkpoint plan via [[bm25CandidateTf]] instead.
    // The INDEXED path (bm25TopKIndexed) stays fully lazy: its tf is a
    // pruned bucketed read whose In(term) pushdown and Bucketed:true
    // plan contracts a checkpoint would hide (PlanQualitySpec), and
    // re-reading the pruned postings is cheap where re-exploding the
    // corpus is not.
    val tf = bm25CandidateTf(docs, idCol, textCol, qterms)
      .localCheckpoint(true)
    // the checkpoint carries no term partitioning: df as a term-count
    // broadcast, so the postings rows never shuffle for it
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val Seq(nDocs, sumDl) =
      (0 to 1).map(i => Option.when(!stats.isNullAt(i))(stats.getLong(i)))
    bm25Rank(tf.join(broadcast(dfreq), "term"), qterms, nDocs, sumDl,
      k, k1, b, conjunctive)
  }

  /** [[queryTerms]] behind a package-visible name, so the plan spec can
    * construct the exact query-term frame the probes consume. */
  private[graft] def bm25QueryTerms(queries: DataFrame, qIdCol: String,
      qTextCol: String): DataFrame =
    queryTerms(queries, qIdCol, qTextCol)

  /** The scan path's PRE-CHECKPOINT candidate-postings frame — the
    * corpus tokenize/explode/query-term-restrict/aggregate stage
    * [[bm25TopK]] eagerly checkpoints. Package-visible so
    * PlanQualitySpec can gate the stage's plan shape (document bodies
    * never enter an exchange) even though the executed probe plan now
    * starts at the checkpointed RDD (ADVICE r21). */
  private[graft] def bm25CandidateTf(docs: DataFrame, idCol: String,
      textCol: String, qterms: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        words(col(textCol)).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("term"))
    toks.join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
  }

  /** The BM25 corpus scalars as EXACT INTEGERS — (n_docs, sum_dl), with
    * avgdl derived as one double division at use time ([[scalarCols]]).
    * Integer accumulation makes the scalars order-independent AND
    * mergeable without drift: appending a batch to a persisted index
    * ([[appendBm25Index]]) adds two longs, and the merged scalars are
    * bit-equal to a full recount — the property a float avgdl cannot
    * offer (avg_old * n_old re-rounds). The oracle computes the same
    * `CAST(sum AS DOUBLE) / count` division, so avgdl carries no
    * accumulation-order exposure in either engine. */
  private def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(size(words(col(textCol))).cast("long").as("n"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_dl"))

  /** The corpus scalars as literal Columns `(n_docs, avgdl)`, avgdl =
    * sum_dl / n_docs — the one place the double is made, the oracle's
    * `CAST(sum AS DOUBLE) / count` division. Both probes sum the
    * scalars on the driver, so the scoring tail needs no join for them.
    * An absent scalar (no committed stats, an empty corpus) reads as
    * null, as the joined one-row frame did. */
  private def scalarCols(nDocs: Option[Long], sumDl: Option[Long])
      : (Column, Column) = (
    nDocs.fold(lit(null).cast("long"))(lit(_)),
    (for (n <- nDocs if n != 0L; d <- sumDl) yield lit(d.toDouble / n))
      .getOrElse(lit(null).cast("double")))

  /** The distinct (q_id, term) pairs of a query table — the broadcast
    * that candidate-restricts both BM25 paths. Each row also carries
    * `nq`, the query's own distinct-term count, computed MAP-SIDE from
    * the same array — so the conjunctive filter needs no extra
    * aggregate or join (disjunctive plans prune the column away). */
  private def queryTerms(queries: DataFrame, qIdCol: String,
      qTextCol: String): DataFrame =
    queries.select(col(qIdCol).as("q_id"),
        array_distinct(words(col(qTextCol))).as("ts"))
      .select(col("q_id"), size(col("ts")).as("nq"),
        explode(col("ts")).as("term"))

  /** The scoring tail shared VERBATIM by [[bm25TopK]] and
    * [[bm25TopKIndexed]] — one Column tree for idf, saturation, the
    * micro-unit quantization, and the TopKAggregator cut, so the
    * persisted-index path provably computes the identical ranking (qb3
    * shares qb1's oracle on the strength of this). `tf` rows are the
    * CANDIDATE postings (doc_id, term, dl, tf, df), df per term being
    * the candidate-postings count, so no corpus-wide vocabulary exists
    * on either path; each caller attaches df in the form its frame's
    * partitioning makes free. The corpus scalars arrive as literal
    * Columns ([[scalarCols]]). The weight rows take ONE shuffle, keyed
    * by `q_id`: the per-(query, doc) score sum and the per-query cut
    * both run on that partitioning, so the scored pairs never move a
    * second time. */
  private def bm25Rank(tf: DataFrame, qterms: DataFrame,
      nDocs: Option[Long], sumDl: Option[Long], k: Int, k1: Double,
      b: Double, conjunctive: Boolean = false): DataFrame = {
    val (n, avgdl) = scalarCols(nDocs, sumDl)
    val w = tf.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"), col("nq"),
        (log(lit(1.0) + (n - col("df") + 0.5) / (col("df") + 0.5))
          * (col("tf") * (k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
          .as("w"))
      .repartition(col("q_id"))
    // conjunctive (AND) semantics: keep only docs matching EVERY
    // distinct query term. tf is per (doc, term) and qterms is distinct
    // per (q, term), so each (q, doc, term) contributes exactly one w
    // row — the group's row count IS its matched-term count, and the
    // query's own term count `nq` already rides every qterms row
    // (computed map-side at parse time), so the filter is two extra agg
    // buffers and an integer compare: ZERO additional joins, exchanges,
    // or scans vs the disjunctive plan (plan-asserted). Disjunctive
    // scoring is untouched: a surviving doc sums the same weight rows.
    val su = (if (!conjunctive)
        w.groupBy("q_id", "doc_id").agg(sum("w").as("score"))
      else w.groupBy("q_id", "doc_id").agg(sum("w").as("score"),
          count(lit(1)).as("nmatch"), max("nq").as("nq"))
        .filter(col("nmatch") === col("nq")))
      .withColumn("score_u", floor(col("score") * 1e6).cast("long"))
    graft.agg.TopKAggregator.topKPerKey(su, "q_id", k,
        col("score_u").cast("double"), col("doc_id"))((rank, v, id) =>
      Seq(id.as("doc_id"), rank, v.cast("long").as("score_u")))
  }

  /** Positional phrase search — the capability bag-of-words BM25 cannot
    * express: count EXACT occurrences of an n-word phrase (each query's
    * first `n` tokens; shorter queries drop) per document via a chain
    * of adjacency joins over positional postings (same doc, consecutive
    * positions — one join per extra word). Returns
    * (q_id, doc_id, n_hits) for docs with >= 1 hit, the query doc
    * itself excluded; overlapping occurrences each count (both engines
    * agree by construction — everything here is integer).
    *
    * Scale shape: every phrase position's term set broadcasts and
    * candidate-restricts the positional postings before anything
    * shuffles, so the only shuffles are the adjacency joins keyed on
    * doc_id over candidate postings (doc_id, pos, token triples — the
    * text body never moves, plan-asserted), then a candidate-scale
    * count. */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 2, s"phraseMatches needs a phrase of >= 2 words, got $n")
    val post = docs.select(col(idCol).as("doc_id"),
      posexplode(words(col(textCol))).as(Seq("pos", "term")))
    phraseChain(post, phraseWords(queries, qIdCol, qTextCol, n), n)
  }

  /** The per-query phrase-word frame `(q_id, t0..t{n-1})` — each query's
    * first `n` tokens; shorter queries drop (the qb6 contract). Shared
    * by both phrase paths so they parse queries identically. */
  private def phraseWords(queries: DataFrame, qIdCol: String,
      qTextCol: String, n: Int): DataFrame =
    queries
      .select(col(qIdCol).as("q_id"), words(col(qTextCol)).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("q_id") +:
        (0 until n).map(j => col("ws").getItem(j).as(s"t$j")): _*)

  /** The adjacency-join chain over positional postings
    * `post = (doc_id, pos, term)` — shared VERBATIM by
    * [[phraseMatches]] (corpus scan) and [[phraseMatchesIndexed]]
    * (persisted-index probe), so the two paths cannot drift: qc2's
    * indexed verification inherits qb6's gated semantics by
    * construction. Each phrase position's term set broadcasts and
    * restricts `post` before anything shuffles. */
  private def phraseChain(post: DataFrame, qp: DataFrame,
      n: Int): DataFrame = {
    def restricted(tCol: String) = post.join(broadcast(
      qp.select(col(tCol).as("term")).distinct()), "term")
    // anchor on the first word, attach the query's remaining words
    var cand = restricted("t0")
      .join(broadcast(qp), col("term") === col("t0"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id") +: col("doc_id") +: col("pos") +:
        (1 until n).map(j => col(s"t$j")): _*)
    for (j <- 1 until n) {
      val pj = restricted(s"t$j")
        .select(col("doc_id").as(s"d$j"), col("pos").as(s"p$j"),
          col("term").as(s"w$j"))
      cand = cand.join(pj, col(s"d$j") === col("doc_id") &&
          col(s"w$j") === col(s"t$j") && col(s"p$j") === col("pos") + j)
        .drop(s"d$j", s"p$j", s"w$j", s"t$j")
    }
    cand.groupBy("q_id", "doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** [[phraseMatches]] probing the PERSISTED postings index instead of
    * re-exploding the corpus per probe batch — the candidate-restricted
    * phrase-verification stage of the production retrieval stack (qc2;
    * the r12 verdict's top item). The stored postings carry each
    * (term, doc_id)'s sorted `positions` (written once per archive
    * append by [[writeBm25Index]]/[[appendBm25Index]]), so a phrase
    * probe never touches document text:
    *
    *   - the probe side is [[graft.sources.MapFiles.probeSide]] over
    *     the phrase words: one bounded snapshot, the phrase term set as
    *     a pushed `In(term)` (up to 256 terms) and its one fallback;
    *   - positions never unpack: the stored arrays make the adjacency
    *     chain an ARRAY-INTERSECTION fold — an n-word phrase's hit
    *     positions are ∩_j (positions(t_j) − j), exactly the
    *     [[phraseChain]] count (a position p starts a match iff every
    *     t_j occurs at p + j; spec-gated equal, incl. overlapping and
    *     self-pair runs), computed as n−1 joins keyed on
    *     (doc_id, term) with one `array_intersect` per survivor — no
    *     explode, no aggregation;
    *   - optionally, `candidates` (e.g. the union of the serving
    *     legs' candidate doc_ids, QUERY-scale) broadcast-semi-
    *     restricts the matching postings further — the right call
    *     when the batch's candidate lists are already materialized or
    *     a phrase term's posting list is pathologically hot; left
    *     null, the probe stays purely index-restricted, which keeps
    *     the serving stack ONE fully-pipelined lazy DAG (qc2 measured
    *     ~40% faster end-to-end than any candidate-wired variant,
    *     whose leg-dependency either serialized the DAG behind
    *     materialization barriers or duplicated the leg subtrees).
    *
    * At 100 TB a probe batch pays the pruned index read (the phrase
    * terms' posting rows — never the corpus) plus fold joins bounded
    * by those postings; the corpus-wide posexplode of the scan path
    * is gone (plan-asserted: no generator over document text anywhere
    * in qc2). Reference contract: the Grep-then-rank shape
    * (examples/Grep.java:48-82) composed with mapred/join candidate
    * semantics. */
  def phraseMatchesIndexed(queries: DataFrame, qIdCol: String,
      qTextCol: String, table: String, candidates: DataFrame = null,
      candIdCol: String = "doc_id", n: Int = 2): DataFrame = {
    require(n >= 2, s"phraseMatchesIndexed needs >= 2 words, got $n")
    // qp and post re-enter the fold (anchor + one leg per remaining
    // phrase position) as the SAME frame objects: qp is the probe
    // side's snapshot, post a cheap pruned-scan pipeline kept lazy, so
    // the serving stack stays one pipelined DAG (see above) while
    // repeated subtrees dedupe at their exchange boundaries
    val (qp, post) = phrasePostIndexed(
      phraseWords(queries, qIdCol, qTextCol, n), table, candidates,
      candIdCol, n)
    var cur = post.join(broadcast(qp), col("term") === col("t0"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id") +: col("doc_id") +: col("positions").as("acc") +:
        (1 until n).map(j => col(s"t$j")): _*)
    for (j <- 1 until n) {
      val pj = post.select(col("doc_id").as(s"d$j"),
        col("term").as(s"w$j"), col("positions").as(s"p$j"))
      // no broadcast hint: at serving scale the planner broadcasts the
      // pruned posting rows; a pathological term's list grows past the
      // threshold and AQE falls back to a (doc_id, term)-keyed shuffle
      // join — body-free either way
      cur = cur.join(pj, col(s"d$j") === col("doc_id") &&
          col(s"w$j") === col(s"t$j"))
        .withColumn("acc", array_intersect(col("acc"),
          transform(col(s"p$j"), x => x - j)))
        .drop(s"d$j", s"p$j", s"w$j", s"t$j")
    }
    cur.select(col("q_id"), col("doc_id"),
        size(col("acc")).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** The probe side and stored-scan stage of [[phraseMatchesIndexed]]:
    * `(phrase words, postings)` — the [[graft.sources.MapFiles.probeSide]]
    * snapshot of the phrase words `qp` and the postings restricted to
    * their terms, then optionally semi-restricted to `candidates`,
    * positions still PACKED. Package-visible so PlanQualitySpec can
    * assert the scan-level claims (index-only file scans, pushed
    * `In(term)`, broadcast candidate restriction) on the live plan. */
  private[graft] def phrasePostIndexed(qp: DataFrame, table: String,
      candidates: DataFrame, candIdCol: String, n: Int)
      : (DataFrame, DataFrame) = {
    val (probes, restricted) = graft.sources.MapFiles.probeSide(qp,
      committedIndex(qp.sparkSession, table)._1, "term", maxProbedTerms,
      keyCols = (0 until n).map(j => s"t$j"))
    val narrowed =
      if (candidates == null) restricted
      else restricted.join(broadcast(candidates
          .select(col(candIdCol).cast("long").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    (probes, narrowed.select(col("doc_id"), col("term"), col("positions")))
  }

  /** The most distinct query terms a BM25 or phrase probe pushes to
    * the stored scan as an In list. */
  private val maxProbedTerms = 256

  /** Persisted BM25 postings index — write-once-probe-many lexical
    * retrieval, the third persisted tier beside the minhash archive
    * (q86) and the ADC index (q99). Postings
    * (term, doc_id, dl, tf, positions, gen) land in the bucketed
    * MapFile layout clustered by `term` (tf is PRE-AGGREGATED at write
    * time — the per-occurrence explode is paid once per archive
    * append, never per probe), and the corpus scalars persist beside
    * them so a probe never rescans the corpus. df is NOT stored: a
    * term's containing-doc count equals its candidate-postings count,
    * so the probe derives it from rows it already read — stored state
    * cannot drift out of sync with the scoring math.
    *
    * MAINTENANCE PROTOCOL (r13). Every postings row carries the
    * GENERATION that wrote it, and the scalar side table `table_s` is
    * APPEND-ONLY rows `(gen, n_docs, sum_dl)` of per-generation
    * integer DELTAS. A generation is COMMITTED iff its scalar row
    * exists; probes read postings/tombstones of committed generations
    * only ([[committedIndex]]) and sum the committed deltas for the
    * corpus scalars (exact long adds — order-independent, so
    * concurrent readers and any append order agree bit for bit). The
    * scalar append is the COMMIT POINT: a 1-row, 1-file, 1-rename
    * write, after every other write of the operation — so a crash
    * anywhere leaves either the full pre-state or the full post-state
    * visible, never a mix (the r12 stats-vs-postings window, closed;
    * spec-gated by killing the writer between steps). Uncommitted
    * (orphan) rows from crashed attempts stay invisible forever —
    * each attempt takes a fresh generation id — and are physically
    * reclaimed by [[compactBm25Index]]. Single maintenance writer at
    * a time; concurrent probes are safe throughout.
    *
    * Reference analog: the build-then-probe MapFile contract
    * (mapred/MapFileOutputFormat.java:39). */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 16): Unit = {
    // a fresh index has no committed batches and no deletions — stale
    // replay marks OR tombstones from a previous build at this name
    // must not outlive it (leftover tombstones would silently delete
    // the fresh build's postings at matching ids)
    MergeTables.dropHwms(docs.sparkSession, table + "_s")
    MergeTables.dropTombstones(docs.sparkSession, table)
    graft.sources.MapFiles.write(
      postings(docs, idCol, textCol).withColumn("gen", lit(0L)), "term",
      buckets, table)
    graft.sources.MapFiles.write(
      corpusStats(docs, textCol).select(lit(0L).as("gen"),
        col("n_docs"), coalesce(col("sum_dl"), lit(0L)).as("sum_dl"),
        lit(-1L).as("batch_key")),
      "gen", 1, table + "_s")
  }

  /** The probe-visible state of a persisted BM25 index: postings of
    * COMMITTED generations minus committed tombstones, plus the exact
    * integer corpus scalars `(n_docs, sum_dl)` summed over committed
    * deltas. The `_s` sidecar is read ONCE on the driver
    * ([[graft.sources.SidecarRead]], no Spark job); the committed
    * generation set reaches the postings and tombstone scans as a
    * pushed `In(gen)` filter, and the scalars ride a one-row local
    * relation. The returned frames stay lazy over the stored tables;
    * orphan files of crashed appends are filtered out at the scan and
    * cost only their own read, never correctness. */
  private[graft] def committedIndex(spark: SparkSession, table: String,
      bucketedRead: Boolean = false)
      : (DataFrame, (Option[Long], Option[Long])) = {
    // heal a compactor crash's DROP/RENAME window first — with in-loop
    // compaction (qfm) the window is hit proportionally more often,
    // and this read is the first touch of every probe/append/delete.
    // The scalar table's own collapse swap (r17) heals the same way.
    MergeTables.recoverCompactCrash(spark, table)
    // Driver-side commit-set read (r22): `_s` is protocol-sized (one
    // delta row per committed operation, collapsed by compaction), and
    // resolving it IN-PLAN re-scanned the tiny sidecar once per
    // reference — a hybrid-stack plan carried ~10 `_s` scans and two
    // committed-generation broadcast semi-joins per probe. The reader
    // takes the same crash-healed fresh listing the scans read
    // (SidecarRead → freshView: heal + refresh + fresh listing), adds
    // NO Spark job (pure driver work, unlike the collect the old
    // Scaladoc warned against), and the restriction becomes a pushed
    // In(gen) predicate the bucketed layout's row-group stats prune
    // on. Freshness is unchanged-or-better: stats and commit set now
    // come from ONE atomic read at construction (the ADC tier's
    // epoch-threading discipline), where the in-plan form could
    // straddle a concurrent append between its scans at execution.
    val srows = graft.sources.SidecarRead.rows(spark, table + "_s")
    def sumOpt(f: String): Option[Long] = {
      val vs = srows.flatMap(_.values.get(f)).collect { case l: Long => l }
      if (vs.isEmpty) None else Some(vs.sum)
    }
    val gens = srows.map(_.getLong("gen")).distinct
    // empty commit set (unreachable through the write protocol, but the
    // old semi-join returned empty rather than throwing — keep that)
    def committedOnly(df: DataFrame): DataFrame =
      if (gens.isEmpty) df.filter(lit(false))
      else df.filter(col("gen").isInCollection(gens))
    val stored =
      if (bucketedRead) graft.sources.MapFiles.readBucketed(spark, table)
      else MergeTables.freshView(spark, table)
    val live = MergeTables.withoutTombstones(spark, table,
      committedOnly(stored), "doc_id", "doc_id")(committedOnly)
    (live, (sumOpt("n_docs"), sumOpt("sum_dl")))
  }

  /** The pre-aggregated postings of one document set — the rows both
    * [[writeBm25Index]] and [[appendBm25Index]] land in the bucketed
    * layout. Each (term, doc_id) row also carries the term's sorted
    * occurrence POSITIONS (r13): ~4 bytes per occurrence of extra
    * index footprint, paid once per archive append, in exchange for
    * phrase verification that never rescans the corpus
    * ([[phraseMatchesIndexed]]). BM25 probes are untouched — column
    * pruning keeps `positions` out of their parquet read entirely
    * (`ReadSchema` excludes it, plan-visible). tf stays the stored
    * scalar (== size(positions)) so the scoring path reads no array. */
  private def postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        posexplode(col("ws")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Append a NEW document batch to a persisted BM25 index — the index
    * maintenance story the write-once [[writeBm25Index]] lacks (the
    * archive-append contract q86's minhash index set; qc1 gates this
    * one). Steps, in the generation protocol's fail-safe order:
    *
    *   1. validate both tables and aggregate the batch's integer
    *      scalars — nothing written yet, so any failure here is free;
    *   2. the batch's postings, pre-aggregated batch-side (the same
    *      [[postings]] shape the build pays) and tagged with a FRESH
    *      generation, APPEND as new files into the existing bucket
    *      layout — Spark's bucketed append hashes them into the same
    *      `term` buckets, so probes keep bucket-pruning across write
    *      generations, and the stored postings are never read,
    *      rewritten, or shuffled. Batches are new documents, so build
    *      and append rows never collide on (term, doc_id) and
    *      concatenation IS the union. Until step 3 these rows are
    *      INVISIBLE (uncommitted generation) — a crash here, or a
    *      partially-committed write job, leaves probes on the exact
    *      pre-append state, and a retry takes a fresh generation;
    *   3. COMMIT: one (gen, n_docs, sum_dl) delta row appends to
    *      `table_s` — a single-file write whose commit is one rename.
    *      Probes sum committed deltas, so the grown scalars are
    *      bit-equal to a full recount (exact long adds, any order;
    *      spec-asserted), and the probe's derived avgdl is the same
    *      double a scan-per-run over the grown corpus computes.
    *
    * Cost at 100 TB: one pass over the NEW batch plus a 1-row scalar
    * append — archive-size work never re-pays (measured exponent
    * −0.10, BASELINE.md). df stays derived from candidate rows at
    * probe time, so no stored statistic can go stale. */
  def appendBm25Index(newDocs: DataFrame, idCol: String, textCol: String,
      table: String): Unit = MergeTables.withTableLock(table) {
    requireBm25(newDocs.sparkSession, table)
    landBm25Gen(newDocs, idCol, textCol, table, batchKey = -1L)
  }

  /** Steps 2 and 3 of [[appendBm25Index]] under the operation's commit
    * key: the batch's postings under a fresh generation, then the
    * scalar-delta commit row. */
  private def landBm25Gen(docs: DataFrame, idCol: String,
      textCol: String, table: String, batchKey: Long): Unit = {
    // an all-filtered batch aggregates to (0, null sum) — coalesce
    // keeps the no-op append a no-op instead of an NPE
    val add = corpusStats(docs, textCol)
      .select(col("n_docs"), coalesce(col("sum_dl"), lit(0L)))
      .collect()(0)
    val gen = graft.sources.MapFiles.freshGen()
    appendPostingsOnly(docs, idCol, textCol, table, gen)
    commitBm25Gen(docs.sparkSession, table, gen, add.getLong(0),
      add.getLong(1), batchKey)
  }

  /** The first step of every BM25 mutator: heal a crashed swap of
    * either swapped table (postings, and the `_s` commit table the
    * compaction collapses), then refuse a table that is not a BM25
    * index. */
  private def requireBm25(spark: SparkSession, table: String): Unit = {
    MergeTables.recoverCompactCrash(spark, table)
    MergeTables.recoverCompactCrash(spark, table + "_s")
    require(spark.catalog.tableExists(table + "_s"),
      s"$table has no scalar side table — not a BM25 index")
  }

  /** Step 2 of [[appendBm25Index]] — the postings-file append WITHOUT
    * the commit. Package-visible so the atomicity spec can kill the
    * protocol between steps and assert probes still see the exact
    * pre-append state. */
  private[graft] def appendPostingsOnly(newDocs: DataFrame, idCol: String,
      textCol: String, table: String, gen: Long): Unit =
    graft.sources.MapFiles.append(
      postings(newDocs, idCol, textCol).withColumn("gen", lit(gen)), table)

  /** Step 3 of [[appendBm25Index]] / [[deleteBm25Docs]] — the commit:
    * one scalar-delta row appended to `table_s` (single task, single
    * file, one rename). `batchKey` is the operation's LOGICAL identity
    * (−1 for plain batch operations): streaming appends commit under a
    * deterministic per-micro-batch key so a replayed committed batch is
    * detected and skipped — see
    * [[graft.pipeline.Similarity.streamBatchKeyBase]], the shared
    * contract of both generation-protocol tiers. */
  private[graft] def commitBm25Gen(spark: SparkSession, table: String,
      gen: Long, nDocsDelta: Long, sumDlDelta: Long,
      batchKey: Long = -1L): Unit = {
    import spark.implicits._
    graft.sources.MapFiles.append(
      Seq((gen, nDocsDelta, sumDlDelta, batchKey))
        .toDF("gen", "n_docs", "sum_dl", "batch_key").coalesce(1),
      table + "_s")
  }

  /** The per-batch body of [[startStreamAppendBm25Index]], exposed
    * for the replay spec: the gated batch append under the batch's
    * commit key unless `table_s` already holds it
    * ([[MergeTables.landOnce]]); a crashed UNCOMMITTED attempt stays
    * invisible and the retry lands under a fresh generation. */
  private[graft] def streamAppendBm25Batch(batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, table: String,
      lineage: Long = 0L): Unit = {
    MergeTables.landOnce(batch.sparkSession, table, table + "_s",
        lineage, batchId) { key =>
      requireBm25(batch.sparkSession, table)
      landBm25Gen(batch, idCol, textCol, table, key)
    }
  }

  /** [[appendBm25Index]] with the NEW DOCUMENTS ARRIVING AS A STREAM —
    * index MAINTENANCE as an online process (r12 verdict #6), closing
    * the loop the serving twins opened: qb4/qa6/qc4 stream the
    * QUERIES against static indexes; this streams the CORPUS INTO the
    * index. Each micro-batch runs the gated batch append under its
    * commit key through the one keyed-stream loop
    * ([[MergeTables.startKeyedStream]]; replay and lineage scope as
    * documented there). Scalar deltas are integer-additive in any
    * order and batch postings concatenate (new documents never collide
    * on (term, doc_id)), so K streamed micro-batch appends == one
    * one-shot append == a full rebuild, probe-exact (two-micro-batch
    * MemoryStream spec; qd6 gates the grown index's probe against
    * qb1's oracle verbatim). Returns the started query; the caller
    * owns the trigger cadence. */
  def startStreamAppendBm25Index(docStream: DataFrame, idCol: String,
      textCol: String, table: String, maxGen: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // `table_s` is the key table; its lease covers the whole tier
    val spark = docStream.sparkSession
    MergeTables.startKeyedStream(docStream, Seq(table + "_s")) {
      (batch, batchId, lineage) =>
        streamAppendBm25Batch(batch, batchId, idCol, textCol, table,
          lineage)
        // the unattended policy (qfm): compaction is safe MID-LINEAGE
        // since r16 — the rewrite carries the replay high-water marks
        maxGen.foreach(mg => compactBm25Index(spark, table, mg))
    }
  }

  /** Delete documents from a persisted BM25 index — the takedown /
    * dedup-verdict consumer (the r12 verdict's missing tier). Logical
    * deletion under the generation protocol: tombstone rows
    * (gen, doc_id) append to `table_t`, and the corpus scalars take a
    * NEGATIVE delta — both invisible until the same single-row commit
    * that gates appends, so a crash anywhere leaves pre- or
    * post-delete state, never a mix. Probes anti-join committed
    * tombstones (query-batch-side broadcast; df re-derives from
    * surviving candidate rows, so scoring needs no stored-statistic
    * repair), and [[compactBm25Index]] later removes the rows
    * physically and clears the tombstones.
    *
    * Only ids actually LIVE in the index count: absent ids and
    * already-deleted ids contribute no tombstone and no scalar delta,
    * so a replayed or overlapping delete cannot double-subtract
    * (spec-asserted). Cost: one committed-postings scan to resolve
    * (doc_id, dl) of the victims — paid per delete batch, never per
    * probe. */
  def deleteBm25Docs(spark: SparkSession, table: String, ids: DataFrame,
      idCol: String): Unit = MergeTables.withTableLock(table) {
    requireBm25(spark, table)
    val (live, _) = committedIndex(spark, table)
    val del = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    // dl rides every posting row of a doc; distinct gives one (doc, dl)
    val eff = live.select("doc_id", "dl").distinct()
      .join(broadcast(del), Seq("doc_id"), "left_semi")
      .localCheckpoint() // tombstone write + delta agg share one scan
    val agg = eff.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl").cast("long")), lit(0L)).as("s")).collect()(0)
    if (agg.getLong(0) == 0L) return // nothing live to delete
    val gen = graft.sources.MapFiles.freshGen()
    MergeTables.landTombstones(eff.select(lit(gen).as("gen"), col("doc_id")),
      table)
    commitBm25Gen(spark, table, gen, -agg.getLong(0), -agg.getLong(1))
  }

  /** Rewrite a persisted BM25 index's file generations into ONE —
    * the maintenance pass that keeps probe file counts flat after K
    * appends and physically removes tombstoned documents (the
    * reference's `MapFile` analog is exactly this sorted-single-file
    * rewrite, io/MapFile.java:49). The committed live view (committed
    * generations, minus committed tombstones, minus any orphan rows of
    * crashed attempts) rewrites into a shadow table as generation 0,
    * the shadow swaps in, the scalar table collapses to one summed
    * row, and the tombstones drop — two swaps of the one protocol
    * ([[MergeTables.swapInKeyed]], each crash window healed on next
    * touch). Between them, stale scalar generations are harmless (the
    * compacted rows are generation 0, always committed, and the deltas
    * sum to the same totals) and stale tombstones are inert. Gated:
    * compacted == appended == one-shot rebuild, stored rows and probe
    * results identical (spec + qd2's oracle row).
    *
    * With `maxGen > 0` it compacts only once more than `maxGen`
    * generations have committed (one `table_s` row each: the build,
    * every append or streamed batch, every delete) — the
    * auto-compaction policy of the lexical tier, safe inside a live
    * streaming lineage ([[MergeTables.compactIfOver]]). Returns true iff
    * it compacted. */
  def compactBm25Index(spark: SparkSession, table: String,
      maxGen: Int = 0): Boolean = MergeTables.withTableLock(table) {
    // locked and healed before the threshold read: an unlocked probe
    // could race a same-process compactor's DROP->RENAME window
    requireBm25(spark, table)
    MergeTables.compactIfOver(spark, table, table + "_s", maxGen) {
      // list fresh before the rewrite: an in-loop compaction runs in the
      // MAIN session while the batches landed from micro-batch CLONE
      // sessions — a stale relation cached here would silently compact
      // away the just-streamed generations (the session relation-cache
      // trap, MergeTables.freshView's argument)
      for (t <- Seq(table, table + "_s", MergeTables.tombstoneTable(table))
           if spark.catalog.tableExists(t))
        spark.catalog.refreshTable(t)
      val (live, _) = committedIndex(spark, table, bucketedRead = true)
      // replay marks carried BEFORE the scalar collapse clears the keys
      MergeTables.carryHwms(spark, table + "_s")
      val totals = spark.table(table + "_s")
        .agg(coalesce(sum("n_docs"), lit(0L)),
          coalesce(sum("sum_dl"), lit(0L))).collect()(0)
      MergeTables.swapInKeyed(spark,
        live.select("term", "doc_id", "dl", "tf", "positions")
          .withColumn("gen", lit(0L)),
        "term", table)
      import spark.implicits._
      MergeTables.swapInKeyed(spark,
        Seq((0L, totals.getLong(0), totals.getLong(1), -1L))
          .toDF("gen", "n_docs", "sum_dl", "batch_key"),
        "gen", table + "_s")
      MergeTables.dropTombstones(spark, table)
    }
  }

  /** [[bm25TopK]] probing the PERSISTED index instead of re-exploding
    * the corpus per run — the production lexical-retrieval shape.
    *
    * The probe side is [[graft.sources.MapFiles.probeSide]] over the
    * parsed `(q_id, nq, term)` rows: construction runs ONE Spark job
    * (the bounded snapshot), whose local relation is both the
    * query-term broadcast of [[bm25Rank]] and the source of the pushed
    * `In(term)` predicate (plan-asserted: `PushedFilters: [In(term,
    * ...)]`), up to 256 terms; past that, its one broadcast semi-join.
    *
    * Execution reads the candidate postings ONCE: df is a window count
    * per term over the term-bucketed scan, whose partitioning already
    * is the window's distribution (no exchange), the corpus scalars are
    * literals summed on the driver from the `_s` sidecar
    * ([[committedIndex]]), and scoring plus the per-query cut share one
    * `q_id` shuffle. The scoring tail is [[bm25Rank]] verbatim —
    * identical output contract and ranking, so qb3 shares qb1's oracle,
    * proving the stored index loses nothing (both candidate paths are
    * spec-gated indexed == direct).
    *
    * `conjunctive = true` (qe6) ranks only documents containing EVERY
    * distinct query term — the search-engine `+term1 +term2` contract
    * between bag-of-words BM25 and the phrase tier (qb6/qd1). The
    * survivors' scores are [[bm25Rank]]'s shared Column tree verbatim;
    * the only addition is an integer matched-term count compared
    * against the query's own term count on candidate aggregates that
    * are already query-restricted, so it adds no scan or shuffle. */
  def bm25TopKIndexed(queries: DataFrame, qIdCol: String, qTextCol: String,
      table: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      conjunctive: Boolean = false): DataFrame = {
    val (tf, (nDocs, sumDl)) = committedIndex(queries.sparkSession, table)
    val (qterms, cand) = graft.sources.MapFiles.probeSide(
      queryTerms(queries, qIdCol, qTextCol), tf, "term", maxProbedTerms)
    // the postings scan arrives term-bucketed, which is the window's
    // distribution: df costs no exchange and no second postings scan
    bm25Rank(cand.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term"))),
      qterms, nDocs, sumDl, k, k1, b, conjunctive)
  }

  /** [[bm25TopKIndexed]] with the QUERIES AS A STREAM — the online
    * lexical serving shape beside the dense tier's
    * [[Similarity.startStreamAdcTopKSharded]]. Each micro-batch's
    * queries run the gated indexed probe VERBATIM through the shared
    * sink loop ([[Similarity.startProbeSink]]): BM25 scoring is
    * per-batch aggregates (df, score sum, top-k) over candidates that
    * all live in the micro-batch that carried their query — per-batch
    * rank is therefore EXACT and stream == batch by construction (qb4
    * shares qb1's oracle; the two-batch == one-shot spec gates it). The
    * stored side keeps [[bm25TopKIndexed]]'s plan-asserted properties
    * (bucketed scan, no postings-payload shuffle) — the probe code path
    * is the same call. Returns the started query; the caller drains it
    * and reads the sink back. */
  def startStreamBm25TopK(queries: DataFrame, qIdCol: String,
      qTextCol: String, table: String, k: Int, sinkDir: String,
      k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Similarity.startProbeSink(queries, sinkDir)(
      bm25TopKIndexed(_, qIdCol, qTextCol, table, k, k1, b))

  /** Vocabulary building + integer encoding — the final step before
    * training: token ids are assigned by corpus frequency rank (count
    * desc, then token asc — fully deterministic), and every document is
    * re-emitted as its id sequence (comma-joined, order-preserving).
    * Returns `(doc_id, n_tokens, ids)`.
    *
    * Scale shape: the vocabulary aggregate shuffles (token, count) pairs
    * — vocab-sized; the frequency rank is TWO-LEVEL, never a
    * single-partition window. Buckets are `(cnt, first char of token)`
    * — order-aligned with the global (cnt desc, tok asc) rank, since
    * every token of bucket (c, "a") precedes every token of (c, "b") —
    * so global rank = collected cumulative bucket offset + within-bucket
    * row_number. The offsets collect is bounded by (distinct frequency
    * values × leading characters), orders of magnitude below the
    * vocabulary itself (a longer prefix widens the split if a single
    * (cnt, char) bucket ever dominates). The encode join is
    * per-token-occurrence, then an ordered reassembly keyed by
    * (doc, position) — the one inherently corpus-wide shuffle a
    * re-encoding pass cannot avoid.
    */
  def vocabEncode(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(words(col(textCol))).as(Seq("pos", "tok")))
    // localCheckpoint: the counted vocabulary feeds both the offsets
    // collect and the final plan — materialize the (vocab-sized)
    // aggregate once instead of re-running the corpus-wide count
    val counted = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("bkt", substring(col("tok"), 1, 1))
      .localCheckpoint()
    // bucket order must be Spark/DuckDB's string order — UNSIGNED UTF-8
    // byte comparison (code-point order), NOT Java's UTF-16 compareTo,
    // which ranks supplementary-plane characters (surrogates, 0xD800+)
    // BELOW private-use BMP ones and would assign swapped offsets
    val utf8Order: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) (x(i) & 0xff) - (y(i) & 0xff) else x.length - y.length
    }
    // bounded collect: one row per (distinct count value x first-char
    // bucket), NOT per token — count values cluster heavily under Zipf
    // (≤ a few thousand distinct at any corpus size that fits a
    // broadcast-able vocab) and buckets are the alphabet, so this is
    // orders below the vocabulary itself; the vocabulary NEVER collects
    val sizes = counted.groupBy("cnt", "bkt").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy { case (c, b, _) => (-c, b) }(
        Ordering.Tuple2(Ordering.Long, utf8Order))
    val offsets = sizes
      .zip(sizes.scanLeft(0L) { case (acc, (_, _, n)) => acc + n })
      .map { case ((c, b, _), off) => (c, b, off) }
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = counted
      .join(broadcast(offsets.toSeq.toDF("cnt", "bkt", "off")),
        Seq("cnt", "bkt"))
      .withColumn("token_id", col("off") + row_number().over(
        Window.partitionBy("cnt", "bkt").orderBy("tok")))
      .select("tok", "token_id")
    toks.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token_id")))),
          s => s.getField("token_id")), ",").as("ids"))
  }

  /** One BPE pair-merge iteration on top of [[vocabEncode]] — the step a
    * full byte-pair-encoding trainer loops: count ADJACENT id pairs
    * corpus-wide, pick the most frequent (ties: smallest (a, b) — fully
    * deterministic), mint `new_id = max token id + 1`, and re-emit every
    * sequence with the pair's occurrences merged greedily left-to-right
    * (the classic BPE scan: in `a a a` the first two merge, the third
    * survives). Returns
    * `(doc_id, pair_a, pair_b, new_id, n_after, ids)`.
    *
    * The greedy merge is defined — and implemented, in BOTH engines of
    * the q87 gate — as two global literal `replace` passes of
    * `",a,b,"` → `",new,"` over the comma-wrapped sequence: a global
    * pass is itself a left-to-right non-overlapping scan, and a
    * back-to-back occurrence starved of its shared boundary comma is
    * caught by pass two, after which no two unmerged occurrences can be
    * adjacent (pass one always merged one of them). For a ≠ b this is
    * exactly the token-greedy scan. For a SELF-pair (a = a) run of odd
    * length ≥ 5 the unmerged residue token lands mid-run (`a a a a a` →
    * `[N, a, N]`) where token-greedy would leave the tail (`[N, N, a]`)
    * — the merge COUNT is identical (⌊run/2⌋), only the residue's
    * position differs, and both engines of the gate compute the same
    * sequence (spec-pinned below).
    *
    * Scale shape: pair counting is one explode + hash aggregate
    * (adjacent-pair-sized shuffle, map-side partials); the argmax is a
    * TakeOrdered (per-partition top-1, no single-partition funnel); the
    * merge itself broadcasts two scalars into a map-side string rewrite.
    * A full trainer iterates this with the pair-count aggregate
    * incrementally maintained; one audited iteration is the
    * oracle-checkable unit. Reference analog: the fork's trainable apps
    * iterate an analogous count→argmin→update cycle per round
    * (apps/pipes/kmeans/cpu-kmeans2D/cpu-kmeans2D.cc:179). */
  def bpeMergeStep(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // reused by pair counting, the max-id lookup and the final rewrite —
    // computed once. LAZY checkpoint (r22): the pair-count argmax below
    // is this function's first job and fully materializes the cache
    // (TakeOrdered runs every child partition), so eagerness only added
    // a blocking job before it; the max-id collect and the final
    // rewrite then read the cache exactly as before.
    val enc = vocabEncode(docs, idCol, textCol).localCheckpoint(false)
    val seqs = enc.select(col("doc_id"),
      transform(split(col("ids"), ","), _.cast("long")).as("arr"))
    val pairs = bpePairCounts(enc) // shared with the bpeTrain loop
    val top = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
      .collect()
    if (top.isEmpty) // degenerate corpus (no doc has 2 tokens): no merge
      return enc.select(col("doc_id"), lit(-1L).as("pair_a"),
        lit(-1L).as("pair_b"), lit(-1L).as("new_id"),
        size(split(col("ids"), ",")).as("n_after"), col("ids"))
    val a = top(0).getLong(0)
    val b = top(0).getLong(1)
    val newId =
      seqs.select(max(array_max(col("arr")))).collect()(0).getLong(0) + 1
    val merged = // two-pass greedy merge, see above
      expr(s"""replace(replace(concat(',', ids, ','),
        | ',$a,$b,', ',$newId,'), ',$a,$b,', ',$newId,')""".stripMargin)
    enc.select(col("doc_id"), lit(a).as("pair_a"), lit(b).as("pair_b"),
        lit(newId).as("new_id"),
        trim(merged, ",").as("ids"))
      .withColumn("n_after", size(split(col("ids"), ",")))
      .select("doc_id", "pair_a", "pair_b", "new_id", "n_after", "ids")
  }

  /** Adjacent-id pair counts of comma-string sequences `(doc_id, ids)` —
    * the aggregate a BPE trainer maintains. One explode + hash aggregate:
    * the shuffle carries (a, b, partial count) pairs, map-side combined;
    * sequences never move. */
  private[graft] def bpePairCounts(seqs: DataFrame): DataFrame = {
    val arr = transform(split(col("ids"), ","), _.cast("long"))
    seqs.select(explode(zip_with(
        slice(arr, lit(1), size(arr) - 1),
        slice(arr, lit(2), size(arr) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The full BPE trainer loop (qa2) — [[bpeMergeStep]] iterated to
    * `merges` rounds with the pair-count aggregate INCREMENTALLY
    * maintained instead of recounted: each round picks the most frequent
    * adjacent pair from the maintained counts (ties: smallest (a, b)),
    * mints `new_id = base max + round`, rewrites ONLY the documents that
    * contain the pair (a pattern pre-filter — by late rounds that is a
    * sliver of the corpus), and applies the count delta
    * `pairs(rewritten) − pairs(affected)` back to the aggregate. The
    * merge rewrite is [[bpeMergeStep]]'s two-pass greedy replace,
    * verbatim. Returns the final `(doc_id, n_after, ids)`.
    *
    * Scale shape per round: the argmax is a TakeOrdered over the
    * maintained (pair, cnt) table — distinct-adjacent-pair-sized, NOT a
    * corpus pass; the rewrite and its delta touch only pattern-matched
    * docs (predicate is a substring test, evaluated in the scan); the
    * delta shuffle is pair-sized with map-side partials. Driver state
    * per round: one (a, b) row. Sequences and counts are
    * localCheckpoint'd each round — K rounds of lineage would otherwise
    * nest K string-rewrite projections into one unplannable tree (the
    * k-means loop precedent). PipelineSpec gates maintenance ≡ recount
    * every round and trainer ≡ K chained [[bpeMergeStep]]s; the qa2
    * oracle unrolls the same K rounds as DuckDB CTEs. Reference analog:
    * the iterated count→argmin→update cycle of the fork's trainable
    * apps (apps/pipes/kmeans/cpu-kmeans2D/cpu-kmeans2D.cc:179). */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
      merges: Int): DataFrame =
    bpeTrainLoop(docs, idCol, textCol, merges)._1
      .withColumn("n_after", size(split(col("ids"), ",")))
      .select("doc_id", "n_after", "ids")

  /** The trainer's loop state after `merges` rounds: (sequences,
    * maintained pair counts, merge history (a, b, new_id)). Package-
    * visible so the spec can audit the maintained aggregate against a
    * recount — the invariant that makes incremental maintenance safe. */
  private[graft] def bpeTrainLoop(docs: DataFrame, idCol: String,
      textCol: String, merges: Int)
      : (DataFrame, DataFrame, Seq[(Long, Long, Long)]) = {
    require(merges >= 1, s"merges=$merges")
    // seqs stays EAGER: each round references it through two branches
    // of one job (pairs(rewritten) and pairs(affected)) — lazy caching
    // could compute the corpus rewrite twice inside that job. counts is
    // LAZY (r22): its only consumers are the NEXT round's argmax collect
    // (which fully materializes the cache — TakeOrdered runs every
    // child partition) and the delta union built after that collect, so
    // the eager checkpoint job per round bought nothing; the LAST
    // round's counts never materialize for [[bpeTrain]] at all.
    var seqs = vocabEncode(docs, idCol, textCol)
      .select(col("doc_id"), col("ids")).localCheckpoint()
    var counts = bpePairCounts(seqs).localCheckpoint(false)
    val baseMax = seqs
      .select(max(array_max(transform(split(col("ids"), ","),
        _.cast("long"))))).head.getLong(0)
    val history = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var round = 0
    var dry = false
    while (round < merges && !dry) {
      val top = counts.orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) dry = true // no adjacent pairs anywhere: converged
      else {
        val a = top(0).getLong(0); val b = top(0).getLong(1)
        val newId = baseMax + round + 1
        history += ((a, b, newId))
        val pat = s",$a,$b,"
        val wrapped = concat(lit(","), col("ids"), lit(","))
        val affected = seqs.filter(wrapped.contains(pat))
        val merged = expr(s"""replace(replace(concat(',', ids, ','),
          | ',$a,$b,', ',$newId,'), ',$a,$b,', ',$newId,')""".stripMargin)
        val rewritten = affected.withColumn("ids", trim(merged, ","))
        // delta = pairs(after) − pairs(before), over affected docs only
        val delta = bpePairCounts(rewritten)
          .unionByName(bpePairCounts(affected)
            .withColumn("cnt", -col("cnt")))
        counts = counts.unionByName(delta)
          .groupBy("a", "b").agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0)
          .localCheckpoint(false) // lazy — see the loop preamble
        seqs = seqs.filter(!wrapped.contains(pat))
          .unionByName(rewritten).localCheckpoint()
        round += 1
      }
    }
    (seqs, counts, history.toSeq)
  }

  /** BPE-ish sub-token regex: letter runs, digit runs, single symbols. */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Whitespace token count + BPE-ish regex token count + char count. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(words(col(textCol))).as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(bpeishPattern), lit(0)))
        .as("bpe_tokens"),
      length(col(textCol)).as("n_chars"))

  /** The seeded (h, b) counter coordinates of one token — shared by the
    * batch sketch, the streaming sketch, and the estimate join, so the
    * three cannot hash differently. */
  private def cmCoords(width: Int, depth: Int) =
    array((0 until depth).map(i => struct(lit(i.toLong).as("h"),
      pmod(Portable.hash60Fast(concat(lit(s"cm$i:"), col("tok"))),
        lit(width.toLong)).as("b"))): _*)

  /** The count-min counter table `(h, b, c)` — depth × width rows at any
    * corpus size. Stateless projections + ONE hash aggregate, so the
    * identical call runs on a batch frame or a streaming one: on a
    * stream (qa9) it is a complete-mode streaming aggregation whose
    * state is the bounded counter table itself — the sketch maintains
    * incrementally per micro-batch with no replay (spec-gated
    * stream == batch; the qa9 oracle rebuilds the same counters in SQL).
    *
    * With `group` (a column of `docs`), one counter table per key:
    * `(g, h, b, c)` — the per-source token-frequency profile of a
    * dataset card, at `groups × depth × width` state regardless of
    * corpus size (bounded group domains, the qe7 discipline). */
  def countMinCounters(docs: DataFrame, textCol: String,
      width: Int = 1024, depth: Int = 4, group: Option[String] = None)
      : DataFrame = {
    require(width > 0 && depth > 0, s"w=$width d=$depth")
    val g = group.map(_ => col("g")).toSeq
    docs.select(group.map(col(_).as("g")).toSeq :+
        explode(words(col(textCol))).as("tok"): _*)
      .select(g :+ explode(cmCoords(width, depth)).as("x"): _*)
      .groupBy(g :+ col("x.h").as("h") :+ col("x.b").as("b"): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Count-min heavy hitters (qa8) — the top-`k` most frequent tokens
    * estimated from a BOUNDED `depth × width` counter table, the sketch
    * a 100 TB frequency audit actually maintains (an exact per-token
    * count table is vocabulary-sized; the sketch is ~4 KB here at ANY
    * corpus size). Each occurrence increments `depth` counters chosen by
    * seeded portable hashes; a token's estimate is the MIN of its
    * counters — classic count-min, so the error is ONE-SIDED
    * (`est >= true count`, spec-asserted, with overestimation bounded by
    * bucket collisions and gone at large `width`, also spec-asserted).
    * The seeds are fixed strings through [[Portable.hash60Fast]], so the
    * whole sketch — collisions included — is a pure function of the
    * data and the DuckDB oracle reproduces it bit-for-bit: unlike the
    * q07b HLL row (engine-internal sketch, declared no-oracle), this
    * sketch tier is ORACLE-GATED.
    *
    * Returns the top-`k` rows `(tok, est)` by (est desc, tok) — a
    * deterministic total order, so the cut is engine-stable.
    *
    * Scale shape: the counter build is one explode(depth) + hash
    * aggregate whose OUTPUT is depth×width rows regardless of corpus
    * size (map-side partials absorb the explode); the only
    * corpus-dependent exchange carries distinct tokens (vocabulary-
    * sized); estimates join the counters as a broadcast (4096 rows
    * here); the final cut is a TakeOrdered (per-partition top-k, no
    * single-partition sort funnel — plan-asserted). */
  def countMinTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int, width: Int = 1024, depth: Int = 4): DataFrame = {
    require(k > 0 && width > 0 && depth > 0, s"k=$k w=$width d=$depth")
    cmTopKFromCounters(docs, None, countMinCounters(docs, textCol, width,
      depth), textCol, k, width, depth)
  }

  /** The estimate leg shared by the scan-per-run top-k ([[countMinTopK]])
    * and the persisted-table probe ([[countMinTopKIndexed]]): distinct
    * (group, token)s of `vocabDocs` → seeded coordinates → min over the
    * broadcast counter table of the same group. One definition, so the
    * serving tier cannot hash or cut differently from the audit tier.
    * With zero keys the cut is qa8's TakeOrdered; with a group it is a
    * row_number window partitioned by the group (bounded rows per
    * partition: the group's vocabulary). */
  private def cmTopKFromCounters(vocabDocs: DataFrame,
      group: Option[String], counters: DataFrame, textCol: String,
      k: Int, width: Int, depth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = group.map(_ => "g").toSeq
    val cs = counters.select(g.map(n => col(n).as("c" + n)) :+
      col("h").as("ch") :+ col("b").as("cb") :+ col("c"): _*)
    val est = vocabDocs.select(group.map(col(_).as("g")).toSeq :+
        explode(words(col(textCol))).as("tok"): _*).distinct()
      .select(g.map(col) :+ col("tok") :+
        explode(cmCoords(width, depth)).as("x"): _*)
      .join(broadcast(cs), g.map(n => col(n) === col("c" + n))
        .foldLeft(col("x.h") === col("ch") && col("x.b") === col("cb"))(
          _ && _))
      .groupBy((g :+ "tok").map(col): _*).agg(min("c").as("est"))
    if (g.isEmpty) est.orderBy(col("est").desc, col("tok")).limit(k)
    else est.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("est").desc, col("tok"))))
      .filter(col("rn") <= k).drop("rn")
  }

  /** A batch's stored count-min state: its counters stamped with the
    * (width, depth) they were hashed at — the columns
    * [[requireCmParams]] reads back. */
  private def cmState(docs: DataFrame, textCol: String, width: Int,
      depth: Int, group: Option[String]): DataFrame =
    withCmParams(countMinCounters(docs, textCol, width, depth, group),
      width, depth)

  private def withCmParams(state: DataFrame, width: Int, depth: Int)
      : DataFrame =
    state.withColumn("w", lit(width)).withColumn("dep", lit(depth))

  /** PERSIST the count-min counter table (qf4; the per-source qfb
    * counters with `group`) — the heavy-hitter sketch joining the
    * persisted tier under the shared [[MergeTables]] protocol. Counts
    * are SUM-monoid state, so the tier gets the FULL maintenance
    * lifecycle of the quantile sketch: single-file generation appends
    * whose cost is independent of both corpus and archive size
    * ([[appendCountMinTable]]), deletion by additive retraction
    * ([[retractCountMinDocs]] — negated counts cancel at the probe-time
    * sum; over-retraction fails loudly), compaction through the probe's
    * own merge ([[compactCountMinTable]]), and streamed appends under
    * deterministic per-batch commit keys
    * ([[startStreamAppendCountMinTable]] — the additive monoid is where
    * a replayed micro-batch double-counts, so the key must ride the
    * generation's rows). Every later call's params and grouping must
    * match the table's ([[requireCmParams]],
    * [[MergeTables.requireGrouping]]). The persisted artifact is
    * depth × width rows per group REGARDLESS of corpus size — the
    * cheapest of the persisted tiers by far. */
  def writeCountMinTable(docs: DataFrame, textCol: String,
      table: String, width: Int = 1024, depth: Int = 4,
      group: Option[String] = None): Unit =
    MergeTables.write(cmState(docs, textCol, width, depth, group), "b",
      table)

  /** The (width, depth) every stored generation was hashed with —
    * exactly one pair by the [[requireCmParams]] discipline; mixed
    * params mean a mis-configured append slipped in and the table is
    * corrupt (fails loudly here, not as garbage estimates). */
  private def cmParamsOf(spark: SparkSession, table: String)
      : (Int, Int) = {
    // freshView: (a) heals a crashed compaction first — this guard is
    // the FIRST read on every count-min entry point, so without it the
    // tier would throw table-not-found forever instead of self-healing
    // — and (b) lists fresh, so a stream-append guard running in the
    // starting session cannot cache a listing that hides the
    // micro-batch clones' later generations
    val stored = MergeTables.freshView(spark, table)
    // a table written before the params guard existed has no w/dep
    // columns — fail with the remedy, not a raw unresolved-column
    // AnalysisException from the select below (ADVICE r15)
    require(stored.columns.contains("w") && stored.columns.contains("dep"),
      s"$table predates the count-min params guard (no stored " +
        "w/dep columns) — rebuild the table to adopt it")
    val rows = stored.select("w", "dep").distinct().collect()
    require(rows.length == 1,
      s"$table holds generations with MIXED count-min params " +
        rows.map(r => s"(width=${r.getInt(0)}, depth=${r.getInt(1)})")
          .mkString(", ") +
        " — counters hashed differently cannot merge; rebuild the table")
    (rows(0).getInt(0), rows(0).getInt(1))
  }

  /** Refuse a maintenance operation or probe whose (width, depth)
    * differ from the table's stored params — the `kcap` discipline of
    * the sample tier ([[graft.pipeline.Samples.sampleFromTable]]) on
    * this tier: a mismatched probe would hash tokens into coordinates
    * the counters never counted and return silently-wrong estimates;
    * a mismatched append would poison every future probe. */
  private def requireCmParams(spark: SparkSession, table: String,
      width: Int, depth: Int): Unit = {
    val (w, d) = cmParamsOf(spark, table)
    require(w == width && d == depth,
      s"count-min params (width=$width, depth=$depth) do not match " +
        s"$table's stored (width=$w, depth=$d) — a mismatched " +
        "probe/append hashes to coordinates the counters never " +
        "counted; use the stored params or rebuild")
  }

  /** The params and grouping guards every row-taking count-min call
    * runs before it lands or probes anything. */
  private[graft] def requireCmTable(spark: SparkSession, table: String,
      width: Int, depth: Int, grouped: Boolean): Unit = {
    MergeTables.requireGrouping(spark, table, grouped)
    requireCmParams(spark, table, width, depth)
  }

  /** Append a batch's counters as one more generation — see
    * [[writeCountMinTable]]. */
  def appendCountMinTable(docs: DataFrame, textCol: String,
      table: String, width: Int = 1024, depth: Int = 4,
      group: Option[String] = None): Unit = {
    requireCmTable(docs.sparkSession, table, width, depth,
      group.isDefined)
    MergeTables.append(cmState(docs, textCol, width, depth, group), table)
  }

  /** DELETE documents from a persisted count-min table by additive
    * retraction: their token counts land negated and cancel exactly at
    * the probe-time sum — see [[writeCountMinTable]]. CONTRACT: `docs`
    * must have been added (the [[MergeTables.mergedSum]] negative
    * guard fails loudly otherwise). */
  def retractCountMinDocs(docs: DataFrame, textCol: String,
      table: String, width: Int = 1024, depth: Int = 4,
      group: Option[String] = None): Unit = {
    requireCmTable(docs.sparkSession, table, width, depth,
      group.isDefined)
    MergeTables.append(cmState(docs, textCol, width, depth, group)
      .withColumn("c", -col("c")), table)
  }

  /** The probe-time merged counter table — `([g,] h, b, c)`, per group
    * when the table is grouped (read from its stored schema) —
    * bit-equal to [[countMinCounters]] over the surviving corpus (qf4's
    * gate). Param columns merge out here (the guard lives in the
    * param-taking probes and maintenance ops). */
  def countMinFromTable(spark: SparkSession, table: String): DataFrame =
    MergeTables.mergedSum(spark, table,
      MergeTables.groupKeys(spark, table) :+ "h" :+ "b", "c")

  /** Collapse all generations into one gen-0 file — see
    * [[writeCountMinTable]] and [[MergeTables.compact]]. The stored
    * params ride through the rewrite, so the guard survives
    * compaction. `maxGen > 0` compacts only above that many
    * generations ([[MergeTables.compactIfOver]]); returns true iff it
    * compacted. */
  def compactCountMinTable(spark: SparkSession, table: String,
      maxGen: Int = 0): Boolean =
    MergeTables.compact(spark, table, "b", {
      val (w, d) = cmParamsOf(spark, table)
      withCmParams(countMinFromTable(spark, table), w, d)
    }, maxGen)

  /** Heavy-hitter top-k SERVED FROM the persisted counter table (qf5;
    * per group, qfb) — [[countMinTopK]]'s estimate leg over
    * [[countMinFromTable]]'s merged counters instead of a fresh corpus
    * scan: the sketch is maintained incrementally
    * (appends/retractions/streams) and probes pay only the vocabulary
    * pass of the probe-side docs plus a broadcast of the bounded
    * counter table. A grouped table is probed per group: `group` names
    * the probe-side docs' group column, and the cut is per group by
    * the deterministic (est desc, tok) order, returning
    * `(g, tok, est)`. */
  def countMinTopKIndexed(vocabDocs: DataFrame, textCol: String,
      table: String, k: Int, width: Int = 1024, depth: Int = 4,
      group: Option[String] = None): DataFrame = {
    require(k > 0, s"k=$k")
    val spark = vocabDocs.sparkSession
    requireCmTable(spark, table, width, depth, group.isDefined)
    cmTopKFromCounters(vocabDocs, group, countMinFromTable(spark, table),
      textCol, k, width, depth)
  }

  /** TAKEDOWN whole groups from the maintained grouped counters using
    * STORED state alone (qfe) — the licensing-removal consumer: when a
    * source's data must leave the corpus, its contribution leaves
    * every SUM-monoid artifact without re-reading a byte of corpus.
    * The retired groups' own merged counters land negated as one more
    * generation (state-sized work; params ride it so the guard
    * survives), the probe-time sum cancels them to nothing, and the
    * next compaction removes them physically — the categorical-key
    * sibling of [[graft.pipeline.Sketches.retireGroupsBefore]]'s
    * time-key retention. Idempotent: a second call finds nothing left
    * to retract. */
  def retireCountMinGroups(spark: SparkSession, table: String,
      groups: Seq[String]): Unit = {
    require(groups.nonEmpty, "no groups to retire")
    MergeTables.requireGrouping(spark, table, grouped = true)
    val (w, d) = cmParamsOf(spark, table)
    val expired = withCmParams(countMinFromTable(spark, table)
        .filter(col("g").isin(groups: _*))
        .withColumn("c", -col("c")), w, d)
      .localCheckpoint()
    if (!expired.isEmpty)
      MergeTables.append(expired, table)
  }

  /** Per-group estimates for a FIXED, literal token list, served from
    * the maintained grouped counters with NO corpus scan (the qfd
    * dataset-card leg): the probe side is `stored groups × audit
    * tokens × depth` rows — all literals or bounded table state — so
    * the whole lookup is sketch-sized. A coordinate no stored token
    * ever hashed to is simply absent from the counters and contributes
    * 0 (count-min's answer for an unseen coordinate), so estimates are
    * defined for tokens absent from the corpus too — deterministic and
    * oracle-reproducible either way. Same seeded [[cmCoords]] as every
    * other leg. */
  def groupedCountMinTokenEstimates(spark: SparkSession, table: String,
      tokens: Seq[String], width: Int = 1024, depth: Int = 4)
      : DataFrame = {
    require(tokens.nonEmpty, "no audit tokens")
    requireCmTable(spark, table, width, depth, grouped = true)
    import spark.implicits._
    val cs = countMinFromTable(spark, table)
      .select(col("g").as("cg"), col("h").as("ch"), col("b").as("cb"),
        col("c"))
    val coords = tokens.toDF("tok")
      .select(col("tok"), explode(cmCoords(width, depth)).as("x"))
    cs.select(col("cg").as("g")).distinct()
      .crossJoin(broadcast(coords))
      .join(broadcast(cs),
        col("g") === col("cg") && col("x.h") === col("ch") &&
          col("x.b") === col("cb"),
        "left")
      .groupBy("g", "tok").agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** The per-micro-batch body of [[startStreamAppendCountMinTable]],
    * exposed for the replay spec and [[DatasetCard.maintainBatch]] —
    * the sketch-tier discipline
    * ([[graft.pipeline.Sketches.streamAppendSketchBatch]]): skip a
    * micro-batch whose deterministic key already committed. */
  private[graft] def streamAppendCountMinBatch(batch: DataFrame,
      batchId: Long, textCol: String, table: String, width: Int,
      depth: Int, lineage: Long = 0L, group: Option[String] = None)
      : Unit =
    MergeTables.appendBatch(batch, batchId, table, lineage)(
      cmState(_, textCol, width, depth, group))

  /** [[appendCountMinTable]] with the DOCUMENTS ARRIVING AS A STREAM:
    * one counter generation per micro-batch under a deterministic
    * per-lineage commit key (replay no-op spec-gated); mismatched
    * params or grouping refused at start, before any batch lands.
    * Returns the started query; the caller owns the trigger cadence. */
  def startStreamAppendCountMinTable(docStream: DataFrame,
      textCol: String, table: String, width: Int = 1024, depth: Int = 4,
      group: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireCmTable(docStream.sparkSession, table, width, depth,
      group.isDefined)
    MergeTables.streamAppend(docStream, table)(
      cmState(_, textCol, width, depth, group))
  }

  /** Per-source token-length distribution audit (q96) — the dataset-card
    * numbers behind mixing and truncation decisions: how long are this
    * source's documents, where do the tails sit, how many tokens does it
    * contribute. Exact interpolated percentiles (Spark `percentile` and
    * DuckDB `quantile_cont` both implement the R-7 / SQL
    * PERCENTILE_CONT rule, so the oracle reproduces them; outputs are
    * rounded at 4 dp, and interpolations of integer lengths carry at
    * most 2 exact decimals, so the rounding boundary is never in play).
    *
    * Scale: the percentile aggregate's state is a per-group
    * value→count map — bounded by the number of DISTINCT document
    * lengths (≤ max length, independent of corpus size) — and it
    * partial-aggregates map-side, so the shuffle carries per-source
    * sketch maps, not rows. Output is one row per source. */
  def lengthProfile(docs: DataFrame, srcCol: String, textCol: String)
      : DataFrame =
    docs.select(col(srcCol).as("source"),
        size(words(col(textCol))).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(col("n").cast("long")).as("tokens"),
        round(expr("percentile(n, 0.5D)"), 4).as("p50"),
        round(expr("percentile(n, 0.9D)"), 4).as("p90"),
        round(expr("percentile(n, 0.99D)"), 4).as("p99"),
        max(col("n")).as("max_tokens"))

  /** Linear text-classifier inference with feature hashing (q93) — the
    * model-based quality-filter stage of a training-data pipeline (the
    * fastText / CCNet shape): per document, hash unigram and
    * adjacent-bigram features into `buckets` slots, sum the model weight
    * of each slot, and keep the document when the score clears
    * `threshold`.
    *
    * The weight vector is a deterministic stand-in — slot b carries
    * integer weight `(b % 2001) - 1000` — because no trained model ships
    * in this sandbox; in production the same plan reads a learned
    * int-quantized weight array and the per-feature cost is identical
    * (the weight is a pure function of the slot either way, exactly the
    * multimodal-tier convention of stubbing the model while keeping the
    * plumbing real). What this operator exercises for real: tokenize →
    * bigram → hash → bucket → accumulate → threshold as ONE codegen'd
    * map-side projection over the scan — zero exchanges (plan-asserted),
    * so at 100 TB it rides the same linear scan as [[qualityScore]].
    *
    * All-integer output (doc_id, n_feats, w_sum, keep): the score is a
    * BIGINT sum — order-independent and exact in both engines — so the
    * keep decision never compares drifted floats. */
  def classifierFilter(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 1 << 20, threshold: Long = 0L): DataFrame = {
    val ws = words(col(textCol))
    val bi = transform(slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      (w, i) => concat(w, lit("_"), element_at(ws, i + 2)))
    val feats = concat(ws, bi)
    val wsum = aggregate(feats, lit(0L),
      (acc, f) => acc + (Portable.hash60Fast(f) % buckets % 2001 - 1000))
    // Project the fold ONCE, then derive keep from the projected column:
    // the aggregate HOF is CodegenFallback, so referencing `wsum` twice
    // in one select would run the whole per-feature fold twice per row.
    docs.select(col(idCol).as("doc_id"),
      size(feats).as("n_feats"),
      wsum.as("w_sum"))
      .select(col("doc_id"), col("n_feats"), col("w_sum"),
        (col("w_sum") >= threshold).as("keep"))
  }

  /** Order-sensitive document fingerprint (Rabin-Karp flavored): a
    * position-weighted sum of per-word 60-bit hashes reduced mod primes
    * chosen so no intermediate exceeds a signed 64-bit long. Distinguishes
    * permuted documents, unlike bag-of-words hashing. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    val weighted = transform(ws,
      (w, i) => (i.cast("long") + 1L) * (Portable.hash60Fast(w) % 1000003L))
    docs.select(
      col(idCol).as("doc_id"),
      (aggregate(weighted, lit(0L), _ + _) % 1000000007L).as("fp"))
  }
}
