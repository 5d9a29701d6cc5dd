package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NearestCellsBc, NearestCellsSharded, VectorOps}
import graft.functions.NearestCellsSharded.{ShardedHier, ShardedQuant}

/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[bruteForceTopK]] / [[nearDupPairs]] — exact cosine, the correctness
  *   baseline. Cost O(queries × corpus); acceptable when the query set is
  *   small or the corpus fits a broadcast.
  * - [[lshTopK]] — random-hyperplane LSH: vectors land in 2^planes sign
  *   buckets, candidates are same-bucket only, then exact cosine re-rank.
  *   The scale path: bucketing is a map-side projection, and the self-join
  *   shuffles on the bucket key instead of forming the full cross product.
  *
  * Dot products run inside one codegen'd expression (`zip_with` +
  * `aggregate`) after casting float→double, so results are stable and
  * match the oracle's double arithmetic to ULP.
  */
object Similarity {

  /** Σ a[i]*b[i] as double, sequential order (parity with the oracle).
    * Backed by the native codegen'd [[graft.functions.VecDot]] — the
    * declarative zip_with/aggregate form computes the identical doubles
    * but ~40× slower on brute-force pair scans (interpreted lambdas +
    * per-pair allocation). */
  def dot(a: Column, b: Column): Column = VectorOps.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Vectors annotated with their L2 norm (computed once, pre-join). */
  private def withNorm(vecs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Returns (q_id, nb_id, rank, cos); ties broken by neighbor id.
    * The QUERY side broadcasts (explicit hint): queries are by contract
    * the small side of a brute-force scan, and without the hint Spark's
    * size estimate can flip the nested-loop broadcast to the corpus —
    * a corpus-sized vector broadcast at scale. */
  def bruteForceTopK(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val corpus = withNorm(vecs, idCol, vecCol)
    val qs = withNorm(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = broadcast(qs).crossJoin(corpus)
      .filter(col("q_id") =!= col("id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    // per-query cut via the bounded-state TopKAggregator (r22, the r21
    // verdict's dense-leg item): the window form shuffled and fully
    // sorted every (query × corpus) candidate row — a corpus-sized sort
    // per query batch — where the partial-agg path ships ≤k rows per
    // query per map task. Ranking is identical: the aggregator's key
    // comparison is the same NaN-largest / -0.0==0.0 total order the
    // window's `cos DESC, id` sort used (see TopKAggregator), so ties
    // and degenerate zero-norm rows order bit-identically.
    graft.agg.TopKAggregator.topKPerKey(scored, "q_id", k, col("cos"),
        col("id"))((rank, v, id) => Seq(id.as("nb_id"), rank, v.as("cos")))
  }

  /** All pairs (id_a < id_b) with cosine >= threshold — embedding-space
    * near-duplicate detection, EXACT baseline. O(n²) cartesian: use only
    * when the corpus fits a broadcast / as a correctness oracle. The scale
    * path is [[lshNearDupPairs]] — same output contract, bucketed shuffle. */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = withNorm(vecs, idCol, vecCol)
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos",
        dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** Deterministic random hyperplanes: planes × dim doubles in [-1, 1),
    * derived from md5 seeds (no RNG state, reproducible everywhere). */
  def hyperplanes(planes: Int, dim: Int, seed: String = "plane")
      : Array[Array[Double]] =
    Array.tabulate(planes, dim)((p, d) =>
      Portable.unitFromSeed(s"${seed}_${p}_$d"))

  /** Per-pair recall of OR-amplified sign-LSH at cosine `c`:
    * 1 − (1 − s^planes)^tables with s = 1 − arccos(c)/π (the probability
    * one hyperplane agrees on the pair). The law the docstrings quote,
    * as code — calibration and specs share this single source of truth. */
  def lshRecall(cosine: Double, planes: Int, tables: Int): Double = {
    val s = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(s, planes), tables)
  }

  /** Derive (planes, tables) from the recall law instead of hand-picking:
    * the smallest table count achieving `targetRecall` at `threshold`, at
    * the LARGEST plane count whose required tables fit `maxTables`.
    *
    * Why largest-planes-first: every extra plane halves the random-pair
    * bucket-collision rate (≈2^-planes per table) — the candidate join is
    * the dominant cost at scale, so selectivity is bought first and the
    * table budget caps the map-side explode factor (each table is one
    * more (bucket, id) row per input vector). Throws if even planes=1
    * cannot reach the target within `maxTables`. */
  def lshParams(threshold: Double, targetRecall: Double,
      maxTables: Int = 32, maxPlanes: Int = 24): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold=$threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"target=$targetRecall")
    val s = 1.0 - math.acos(threshold) / math.Pi
    def tablesFor(p: Int): Option[Int] = {
      val sp = math.pow(s, p)
      if (sp <= 0.0) None
      else if (sp >= 1.0) Some(1)
      else {
        val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-sp))
        if (!t.isFinite || t > maxTables) None else Some(math.max(1.0, t).toInt)
      }
    }
    (maxPlanes to 1 by -1).iterator
      .map(p => tablesFor(p).map(t => (p, t)))
      .collectFirst { case Some(pt) => pt }
      .getOrElse(throw new IllegalArgumentException(
        s"recall $targetRecall at threshold $threshold needs more than " +
        s"$maxTables tables even at planes=1 — raise maxTables"))
  }

  /** LSH-bucketed near-dup pairs — the scale path for [[nearDupPairs]].
    * OR-amplified sign-LSH (the hyperplane analog of minhash banding,
    * [[graft.pipeline.Dedup.minhashLsh]]): `tables` independent sets of
    * `planes` hyperplanes; a pair is a candidate iff it shares a bucket in
    * ANY table, then exact cosine verifies every candidate — so output
    * precision is exact and only recall is approximate. Per-pair recall at
    * cosine c is 1-(1-(1-θ/π)^planes)^tables with θ = arccos(c): more
    * planes → smaller buckets (cheaper join), more tables → higher recall.
    *
    * Scale shape (the default, auto-chosen when the random-pair candidate
    * rate is near zero): candidate generation shuffles (table, bucket, id)
    * ONLY — the vectors never ride the bucket join — and verification
    * joins vectors back on the deduplicated candidate ids. At 100 TB the
    * all-pairs baseline is O(n²); this is O(Σ bucket²) on ids + O(pairs)
    * exact dots. Wide-angle thresholds (τ ≈ 0.5), where candidates are a
    * large fraction of all pairs, flip to in-join verification — see the
    * strategy note in the body; `carryVectors` overrides the choice. */
  def lshNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, tables: Int = 8, dim: Int = 64,
      carryVectors: Option[Boolean] = None): DataFrame = {
    val base = withNorm(vecs, idCol, vecCol)
    val hps = Array.tabulate(tables)(t =>
      hyperplanes(planes, dim, seed = s"table${t}_plane"))
    // one LONG key per (table, bucket) — table index in the high bits —
    // computed by the native sign_buckets expression: the declarative
    // array-of-literal-dots form embeds tables × planes × dim literal
    // doubles and falls out of JIT-able codegen (measured ~1s of
    // interpreted projection at sf0.1); the native kernel is a tight
    // loop over a reference-object matrix (planes < 48 enforced there)
    val buckets = (v: Column) =>
      explode(graft.functions.SignBuckets(v, hps)).as("tb")
    // Two physical strategies with identical output. The discriminator is
    // the RANDOM-pair candidate rate f = 1-(1-2^-planes)^tables (random
    // vectors agree with a hyperplane w.p. 1/2): at scale parameters
    // (high τ → many planes) f ≈ tables·2^-planes ≈ 0 and the candidate
    // set is near-dup-rate-sized, so shuffling bare id pairs and joining
    // vectors back is cheapest; at wide angles (τ ≈ 0.5, the q34b demo
    // regime) f is a large fraction of ALL pairs — materializing and
    // re-shuffling an O(f·n²) pair set three times (distinct + two
    // vector join-backs) costs far more than letting the vectors ride
    // the (linear, tables·n-row) bucket exchange and verifying inside
    // the join, where candidate pairs are born and die in one stage.
    val randomRate = 1.0 - math.pow(1.0 - math.pow(0.5, planes), tables)
    if (carryVectors.getOrElse(randomRate > 0.01)) {
      val bucketed = base.select(col("id"), col("v"), col("nrm"),
        buckets(col("v")))
      bucketed.as("a").join(bucketed.as("b"),
          col("a.tb") === col("b.tb") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
            .as("cos"))
        .filter(col("cos") >= threshold)
        // a pair colliding in several tables verifies more than once but
        // yields bit-identical cos; dedup AFTER the filter, where the
        // frame is result-sized rather than candidate-sized
        .distinct()
    } else {
      // (id, (table, bucket)) — buckets are a map-side projection; the
      // candidate self-join carries ids only, never embeddings. Left
      // declarative (no cache/checkpoint): when both join sides shuffle —
      // the at-scale shape — ReusedExchange computes the bucket projection
      // once, and the lazy plan stays inspectable end to end
      val ids = base.select(col("id"), buckets(col("v")))
      val pairs = ids.as("a").join(ids.as("b"),
          col("a.tb") === col("b.tb") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct() // a pair colliding in several tables verifies once
      pairs
        .join(base.select(col("id").as("id_a"), col("v").as("va"),
          col("nrm").as("na")), Seq("id_a"))
        .join(base.select(col("id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")), Seq("id_b"))
        .withColumn("cos",
          dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), col("cos"))
    }
  }

  /** Derive the hyperplane count for [[lshTopK]] from the corpus size:
    * the smallest `planes` whose 2^planes sign buckets hold mean
    * occupancy <= `targetOccupancy` — the same occupancy-constant law as
    * [[ivfParams]]' nlist (and the GrowthBench "+log2(growth) planes"
    * calibration, which held candidate volume linear across a 10x
    * scale-up). Pure integer arithmetic (ceil-log2 via leading zeros),
    * so a DuckDB oracle derives the identical count from count(*);
    * clamped to `maxPlanes` (each plane is one dim-length dot per row —
    * and the oracle must pre-embed maxPlanes literal hyperplanes). */
  def signAnnParams(n: Long, targetOccupancy: Int = defaultOccupancy,
      maxPlanes: Int = maxSignPlanes): Int = {
    require(n > 0 && targetOccupancy > 0, s"n=$n occ=$targetOccupancy")
    val targetBuckets = (n + targetOccupancy - 1) / targetOccupancy
    val planes =
      if (targetBuckets <= 1) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(targetBuckets - 1)
    math.max(1, math.min(maxPlanes, planes))
  }

  /** Sign-bucket id of a vector under the given hyperplanes. */
  def bucketOf(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val proj = dot(vec, lit(plane))
      shiftleft(when(proj > 0, 1L).otherwise(0L), p)
    }.reduce(_ + _)

  // ---------------------------------------------------------------- IVF

  /** Probe-fraction floors measured on the reference data model
    * (hash-random embeddings — CLUSTERLESS, the adversarial case for any
    * inverted-file index, where recall tracks the probed fraction of the
    * corpus because cells carry no cluster structure to exploit). Each row
    * is (recall floor, nprobe/nlist fraction): the fraction's measured
    * recall@3 met the floor at every tested scale (n=500 and n=2000, and
    * the IvfParamsSpec synthetic rescale). Fractions are binary-exact
    * multiples of 1/8 so Spark and a DuckDB oracle derive the identical
    * nprobe from the identical formula. On real clustered embeddings the
    * same fraction over-delivers — this table is the worst-case floor. */
  private[graft] val ivfProbeFracs: Seq[(Double, Double)] = Seq(
    0.55 -> 0.25, 0.70 -> 0.375, 0.80 -> 0.5,
    0.90 -> 0.625, 0.95 -> 0.75, 1.0 -> 1.0)

  /** The shared occupancy constant of [[ivfParams]] and [[signAnnParams]]
    * — oracle builders reference it so the SQL twins cannot drift. */
  val defaultOccupancy: Int = 32

  /** Lloyd rounds [[trainCoarseQuantizer]] runs by default — the q35c
    * oracle unrolls exactly this many CTE iterations. */
  val defaultLloydIters: Int = 3

  /** [[signAnnParams]]' plane-count clamp — the q35b oracle pre-embeds
    * exactly this many hyperplane literal projections. */
  val maxSignPlanes: Int = 12

  /** The probe fraction for `targetRecall` as its exact numerator over
    * 8 — the integer the DuckDB oracles repeat (every [[ivfProbeFracs]]
    * fraction is a binary-exact multiple of 1/8 by construction, and
    * this throws if a recalibration ever breaks that invariant instead
    * of letting the SQL twin silently diverge). */
  def probeFracEighths(targetRecall: Double): Int = {
    val frac = ivfProbeFracs
      .collectFirst { case (floor, f) if targetRecall <= floor => f }
      .getOrElse(1.0)
    val num = frac * 8
    require(num == num.toInt.toDouble,
      s"probe fraction $frac is not a multiple of 1/8")
    num.toInt
  }

  /** Derive `(nlist, nprobe)` for [[ivfTopK]] from the corpus size — the
    * IVF analog of [[lshParams]]/[[Dedup.minhashParams]]: parameters from
    * the data, not hand-picked constants (the reference's
    * `mapred/lib/InputSampler.java:49` sampled-calibration idea).
    *
    * - `nlist = ceil(n / targetOccupancy)`: constant cell occupancy. The
    *   measured growth law (BASELINE.md, GrowthBench): T ~ n^2.06 with
    *   nlist FIXED, n^1.00 with nlist tracking n — cell occupancy, not
    *   cell count, is what must stay constant as the corpus grows.
    * - `nprobe = ceil(frac(targetRecall) * nlist)` from the measured
    *   [[ivfProbeFracs]] floors. Probed work per query is frac·n — on
    *   clusterless data no inverted file does better (there is no
    *   structure to exploit); on clustered corpora callers wanting the
    *   runtime-linear regime instead pass a fixed nprobe to [[ivfTopK]]
    *   and lean on cluster locality for recall.
    *
    * Both formulas are integer/exact-binary arithmetic, so an external
    * oracle (DuckDB) reproduces them bit-for-bit from `count(*)`. */
  def ivfParams(n: Long, targetRecall: Double = 0.8,
      targetOccupancy: Int = defaultOccupancy): (Int, Int) = {
    require(n > 0, s"n=$n")
    require(targetRecall > 0.0 && targetRecall <= 1.0, s"target=$targetRecall")
    require(targetOccupancy > 0, s"occupancy=$targetOccupancy")
    // Int.MaxValue clamp: a >68-billion-row corpus at occupancy 32 would
    // overflow Int nlist — at that size the caller shards the index anyway
    val nlist = math.min(Int.MaxValue.toLong, math.max(1L,
      math.min(n, (n + targetOccupancy - 1) / targetOccupancy)))
    val frac = probeFracEighths(targetRecall) / 8.0
    val nprobe = math.max(1L,
      math.min(nlist, math.ceil(frac * nlist).toLong))
    (nlist.toInt, nprobe.toInt)
  }

  /** Bounded training-sample size for an nlist-cell quantizer: 64 points
    * per cell, floored at 4096, computed in Long (an Int `nlist * 64`
    * wraps at nlist > 2^25) and capped at Int.MaxValue — the q35c oracle
    * computes the same LEAST/GREATEST in BIGINT. */
  def trainingCap(nlist: Int): Int =
    math.min(Int.MaxValue.toLong,
      math.max(nlist.toLong * 64L, 4096L)).toInt

  /** Deterministic BOUNDED quantizer-training sample: the `cap` rows with
    * the smallest portable content hash of their id (ties by id). Stable
    * across runs, partitionings and engines — unlike `limit(cap)`, whose
    * row set depends on scan order — and bounded unlike a proportional
    * `hash % k` filter, which at 100 TB still collects terabytes.
    * Physically a TakeOrderedAndProject: partial top-cap per partition,
    * only cap rows per partition cross the wire — never a full sort. */
  def trainingSample(vecs: DataFrame, idCol: String, vecCol: String,
      cap: Int): DataFrame = {
    vecs.select(Portable.hash60Fast(col(idCol).cast("string")).as("h"),
        col(idCol).as("i"), col(vecCol))
      .orderBy(col("h"), col("i"))
      .limit(cap)
      .select(col(vecCol))
  }

  /** The live tiers' quantizer as a one-entry [[ShardedQuant]]
    * broadcast, not a plan literal (the r21 verdict's q35c item; why,
    * in [[graft.functions.NearestCellsSharded]]): assign with
    * `NearestCellsSharded.assign(v, lit(0), bc)`, probe with
    * `NearestCellsSharded.flat(v, bc, Array(nprobe))` — at shard 0 a
    * gcell equals its cell id. Per-operator-call, reclaimed by the
    * ContextCleaner like any broadcast join's. */
  private def oneShardQuant(spark: SparkSession,
      cents: Array[Array[Double]]): Broadcast[ShardedQuant] =
    spark.sparkContext.broadcast(
      ShardedQuant(Array(NearestCellsBc.quantizerOf(cents))))

  /** Train a coarse quantizer on a driver-resident sample: one collect,
    * then local Lloyd iterations (nlist × dim doubles of state — the
    * standard IVF recipe: train on a bounded sample, quantize the full
    * 100 TB corpus map-side via the broadcast centroids). Pass a SAMPLE
    * as `vecs` — the collect is the caller's scale contract. One job
    * instead of one-per-iteration; at sample sizes the arithmetic is
    * microseconds and the Spark jobs were pure overhead.
    *
    * Deterministic throughout: init = nlist sample points under
    * lexicographic order (actual data points — seeded random unit
    * vectors sit far from an uncentered corpus and collapse most points
    * into one cell, making the candidate join quadratic again); ties and
    * empty cells resolve identically across runs.
    *
    * `init` picks WHICH sorted sample points seed the cells. `"first"`
    * (default, and the form every SQL oracle unrolls — do not change it
    * under an oracle-gated path) takes the lexicographic PREFIX: fine
    * on diffuse corpora, but on well-separated CLUSTERED corpora the
    * prefix clumps into whichever cluster sorts lowest, and Lloyd
    * iterations cannot migrate centroids across separated clusters —
    * the surviving giant multi-cluster cells inflate the probe dial
    * ([[tuneShardServing]]) with useless candidates. `"strided"` takes every
    * (len/nlist)-th sorted point instead — still fully deterministic,
    * but spread across the value range so each cluster attracts seeds
    * proportional to its mass. Clustered-corpus builds pass
    * `init = "strided"` to [[writeIvfAdcIndexSharded]]. */
  def trainCoarseQuantizer(vecs: DataFrame, vecCol: String, nlist: Int,
      dim: Int, iters: Int = defaultLloydIters,
      init: String = "first"): Array[Array[Double]] = {
    import scala.math.Ordering.Implicits._
    val data = vecs
      .select(transform(col(vecCol), _.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
      .sortBy(_.toSeq)
    // ragged centroid rows would silently misalign NearestCells.nearest's
    // flat c*dim offsets — reject mismatched input up front
    data.find(_.length != dim).foreach(v => throw new IllegalArgumentException(
      s"vector of length ${v.length} does not match dim=$dim"))
    var cents: Array[Array[Double]] =
      if (data.length < nlist)
        data.map(_.clone()) ++ Array.tabulate(nlist - data.length, dim)(
          (c, d) => Portable.unitFromSeed(s"ivf_${c}_$d"))
      else init match {
        case "first" => data.take(nlist).map(_.clone())
        case "strided" => Array.tabulate(nlist)(c =>
          data(((c.toLong * data.length) / nlist).toInt).clone())
        case other => throw new IllegalArgumentException(
          s"init=$other (expected first|strided)")
      }
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](nlist, dim)
      val counts = new Array[Long](nlist)
      data.foreach { v =>
        var best = 0; var bd = Double.PositiveInfinity
        var c = 0
        while (c < nlist) {
          var s = 0.0; var i = 0
          val n = math.min(v.length, cents(c).length)
          while (i < n) { val d = v(i) - cents(c)(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        var i = 0
        while (i < math.min(v.length, dim)) {
          sums(best)(i) += v(i); i += 1
        }
        counts(best) += 1
      }
      cents = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c)))
    }
    cents
  }

  /** IVF approximate top-k: the coarse quantizer partitions the corpus
    * into `nlist` inverted lists; each query probes its `nprobe` nearest
    * cells and exact cosine re-ranks only those candidates. The join is
    * keyed on the cell id — the shuffle carries (cell, id, vector), never
    * the cross product — and with `nprobe = nlist` the result equals
    * brute force exactly (the spec's correctness gate).
    *
    * `queries` (optional) restricts the probe side to a separate query
    * set — the corpus is still indexed in full, but only the given rows
    * fan out to their `nprobe` cells (the [[recallAudit]] shape: probe
    * with a sample, index everything). `null` keeps the self-join
    * default where every corpus vector is also a query. */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
      cents: Array[Array[Double]] = null,
      queries: DataFrame = null): DataFrame = {
    val quantizer =
      if (cents != null) cents
      // default training input is a BOUNDED DETERMINISTIC slice, never the
      // full corpus: trainCoarseQuantizer collects its input to the driver
      // (its scale contract), and at 100 TB an unbounded collect is a
      // driver OOM; a bare limit() would be bounded but scan-order-
      // dependent, breaking the deterministic contract. Callers wanting a
      // specific sampling policy pre-train and pass `cents`.
      else trainCoarseQuantizer(
        trainingSample(vecs, idCol, vecCol, trainingCap(nlist)),
        vecCol, nlist, dim)
    val qbc = oneShardQuant(vecs.sparkSession, quantizer)
    val base = withNorm(vecs, idCol, vecCol)
    // the probes emit gcells (long; equal to the cell at shard 0), so
    // the assigned side widens to long: one key type in the cell join
    val corpus = base.withColumn("cell",
      NearestCellsSharded.assign(col("v"), lit(0), qbc).cast("long"))
    val probes = (if (queries == null) base
      else withNorm(queries, idCol, vecCol))
      .withColumn("cell",
        explode(NearestCellsSharded.flat(col("v"), qbc, Array(nprobe))))
      .select(col("id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val candidates = probes.join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("id"))
      // project the vectors away BEFORE the per-query ranking: the
      // shuffle carries (q_id, nb_id, cos), never the embeddings
      .select(col("q_id"), col("id").as("nb_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    rankTopK(candidates, k)
  }

  /** Recall@k audit of the IVF tier (qa4) — the index-quality gate a
    * production ANN deployment monitors: for a SAMPLED query set, how
    * many of the exact top-k neighbors does the approximate tier
    * return? Returns `(q_id, hits, recall)` per query — `hits` the
    * overlap count, `recall = hits / k` one IEEE division of small
    * integers (bit-equal across engines). The macro recall is the mean
    * over rows; keeping per-query rows is deliberate (the tail — queries
    * with recall 0 — is what parameter tuning needs to see, and a single
    * averaged row would hash-hide it).
    *
    * Scale contract: the exact side is a brute-force pass of the corpus
    * per query — that is WHY the audit runs on a sampled query set
    * (corpus/100 here; any fraction works), never all queries: cost is
    * |sample| × corpus map-side dot products, ~1/100th of one all-pairs
    * tier, and the approximate side reuses the production [[ivfTopK]]
    * path restricted to the same sample. Each leg keeps its own
    * documented exchange shape ([[ivfTopK]]'s cell-keyed join,
    * [[bruteForceTopK]]'s query-side-broadcast cross join); what the
    * AUDIT adds on top is only the explicit `broadcast` of the
    * (sample × k)-row approximate result into the overlap join plus an
    * integer per-query rollup — no new corpus-scale movement, and no
    * corpus-side float vector in any broadcast (plan-asserted).
    *
    * Reference analog: the fork's schedulers log per-device mean task
    * times as a live quality/efficiency comparator
    * (mapred/JobInProgress.java:338-364); this is the same
    * measure-the-approximation-against-truth loop applied to index
    * quality. */
  def recallAudit(vecs: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int, nprobe: Int, dim: Int,
      cents: Array[Array[Double]]): DataFrame = {
    val approx = ivfTopK(vecs, idCol, vecCol, k, nlist, nprobe, dim,
        cents, queries = queries)
      .select(col("q_id"), col("nb_id"), lit(1L).as("hit"))
    val exact = bruteForceTopK(vecs, queries, idCol, vecCol, k)
      .select(col("q_id"), col("nb_id"))
    exact.join(broadcast(approx), Seq("q_id", "nb_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("q_id"), col("hits"),
        (col("hits") / lit(k.toDouble)).as("recall"))
  }

  /** IVF-ADC quantized top-k (the composition [[Quantize]]'s Scaladoc
    * promises): candidates come from the coarse quantizer's `nprobe`
    * cells exactly as in [[ivfTopK]], but scoring runs over PACKED INT8
    * CODES — `i8_dot(q_codes, nb_codes)` is an exact BIGINT, and the
    * per-query ranking key `idot * nb_scale` multiplies that integer by
    * one double (the query's own scale is a per-query constant and drops
    * out of its ordering). MIPS semantics (dot product, not cosine) —
    * the standard quantized-retrieval objective.
    *
    * Cross-engine determinism is stronger than [[ivfTopK]]'s: integer
    * accumulation has no rounding and no order sensitivity, and the key
    * is a single IEEE multiply of exact inputs, so ties are exact ties
    * (broken by nb_id) rather than fp near-ties.
    *
    * Scale: the candidate shuffle carries (cell, id, 64-byte code blob,
    * scale) — 4-8× lighter than the float vectors [[ivfTopK]] moves, on
    * top of the same occupancy-constant cell geometry. Float vectors
    * never enter any exchange (plan-asserted); a production pipeline
    * re-ranks the few survivors against full precision ([[bruteForceTopK]]
    * on the top-k ids). Returns (q_id, nb_id, rank, idot). */
  def ivfAdcTopK(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
      cents: Array[Array[Double]] = null): DataFrame = {
    val quantizer =
      if (cents != null) cents
      else trainCoarseQuantizer(
        trainingSample(vecs, idCol, vecCol, trainingCap(nlist)),
        vecCol, nlist, dim)
    // all three per-row kernels are native + codegen'd (max_abs,
    // pack_quant, nearest_cells — float arrays consumed directly, no
    // cast-transform wrapper): the declarative HOF quantize was
    // CodegenFallback and Catalyst inlined its 64-step fold per ELEMENT
    // of the codes lambda (~4k interpreted steps/row, measured 4x the
    // whole float pipeline's projection cost)
    val sc = VectorOps.maxAbs(col(vecCol))
    val qc = VectorOps.packQuant(col(vecCol), sc)
    // ONE map-side projection each side — cell, codes, and scale all
    // compute in the scan; the float vector never leaves it. The probe
    // side additionally repartitions by cell: that exchange is a
    // materialization barrier — without it Catalyst collapses the
    // pack_quant projection across the join into the rank aggregate's
    // input stage, re-running the 64-element kernel once per CANDIDATE
    // row instead of once per probe (measured 39.6 s vs 2.5 s at sf0.1,
    // in one unpartitioned task). Only the probe side needs the barrier:
    // it is the join's stream side, whereas the corpus side materializes
    // its blobs in whatever exchange the planner picks for it (broadcast
    // build at bench scale, cell-keyed shuffle at corpus scale) — forcing
    // a corpus repartition here measured 2× slower at growth-10x by
    // denying the planner the broadcast.
    val qbc = oneShardQuant(vecs.sparkSession, quantizer)
    val corpus = vecs.select(
      NearestCellsSharded.assign(col(vecCol), lit(0), qbc).cast("long")
        .as("cell"),
      col(idCol).as("id"), qc.as("qc"), sc.as("scale"))
    val probes = vecs.select(col(idCol).as("q_id"), qc.as("q_qc"),
      explode(NearestCellsSharded.flat(col(vecCol), qbc, Array(nprobe)))
        .as("cell"))
      .repartition(col("cell"))
    val candidates = probes.join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id").as("nb_id"),
        VectorOps.i8Dot(col("q_qc"), col("qc")).as("idot"),
        col("scale"))
    rankByScaledIdot(candidates, k)
  }

  /** Per-query top-k over (q_id, nb_id, idot, scale) candidates by the
    * ADC key `idot * scale` desc (ties by nb_id) — through a per-query
    * WINDOW (hash-partitioned by q_id, sort-based, SPILLING). Shared by
    * [[ivfAdcTopK]] and every probe of the persisted sharded index so
    * the live and persisted tiers cannot rank differently.
    *
    * Why not the [[rankTopK]] grouped-collect shape (which this was
    * until r18): a probe group's size is nprobe × occupancy — under
    * the fraction law that is a CORPUS FRACTION per query, and the
    * r18 100× growth run OOM'd the collect ranker exactly there (the
    * object-hash aggregate holds up to 128 in-flight group buffers per
    * task; at ~100k-row groups × 24 tasks that is the whole heap).
    * The window sorts and spills at any group size with the same key
    * and nb_id tie-break the collect ranker used. [[rankTopK]] remains
    * correct where groups
    * are depth-bounded by construction (the re-rank tails). */
  private def rankByScaledIdot(candidates: DataFrame, k: Int): DataFrame =
    candidates
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy((-col("idot").cast("double") * col("scale")).asc,
            col("nb_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nb_id"), col("rank"), col("idot"))

  /** Bucket count of the persisted ADC index ([[writeIvfAdcIndexSharded]]) —
    * shared with the probe's co-partitioning repartition so the stored
    * side never re-shuffles. */
  val ivfIndexBuckets: Int = 16

  /** Base of the deterministic streaming commit keys:
    * `base + lineage·2^28 + batchId` ([[MergeTables.streamKey]]).
    * Spark's micro-batch ids are stable across checkpointed restarts
    * AND across replays, which is what makes the replay check sound
    * WITHIN a lineage; they restart at 0 for a FRESH checkpoint
    * lineage, which is why every `start()` folds a fresh lineage id
    * into its keys ([[MergeTables.allocLineage]]) — without it a
    * second streaming writer against the same uncompacted index would
    * see the first lineage's keys and silently skip its own early
    * batches. Compaction clears the live keys but carries each
    * lineage's high-water mark into the `_hwm` sidecar
    * ([[MergeTables.carryHwms]], r16), so replay detection — and with
    * it mid-lineage compaction — survives the rewrite on every
    * tier. */
  private[graft] val streamBatchKeyBase: Long = 1L << 40

  // ============ sharded ADC index (one-plan, one-table layout) ============
  // The 100 TB horizontal dial (r17 verdict item 3), re-laid in r20 as
  // ONE physical table so the probe is ONE Catalyst plan at any shard
  // count (r19 verdict item 1). The r17-r19 layout was one full
  // single-table index PER SHARD and the probe a per-shard plan
  // fan-out; that paid a MEASURED ~0.1 s/shard of per-branch EXECUTION
  // floor (N bucketed scans, N broadcasts, N exchanges — task count
  // linear in the shard count; decomposed r20: construction ~0.25 s and
  // Catalyst planning ~0.15 s both FLAT in shards, execution 0.9/1.9/3.4 s
  // at s8/s16/s32), re-paid per probe batch and per micro-batch (the r19
  // streaming-amortization measurement falsified plan reuse). Now the
  // fan-out is DATA: rows carry their shard and a GLOBAL cell id
  // `gcell = shard·2^32 + cell` ([[graft.functions.NearestCellsSharded]]),
  // all shards' packed rows live in ONE bucketed table, every shard's
  // quantizer rides ONE broadcast, and a probe is one scan + one join +
  // one rank regardless of shard count. Each shard KEEPS its own
  // quantizer, epoch, nlist and dials — sharding still multiplies
  // training locality and write parallelism — but the per-shard state
  // is rows and broadcast slices, not tables and plan branches.
  // Reference contract: MapFileOutputFormat opens the partitioned
  // reader set ONCE and every getEntry routes within it
  // (mapred/MapFileOutputFormat.java:93-107) — the reader set is state,
  // not per-probe construction.
  //
  // Physical layout at reshard generation g (generation 0 omits `_r{g}`):
  //   <table>_r{g}_sv        (gcell, shard, cell, id, qc, scale, gen, epoch)
  //                          bucketed+sorted+bloomed by gcell
  //   <table>_r{g}_sv_c      (shard, cell, cent, epoch) — all quantizers
  //   <table>_r{g}_sv_g      (shard, gen, batch_key, epoch) — committed
  //                          generations, one row per shard per commit
  //   <table>_r{g}_sv_t      (shard, id, epoch) — tombstones
  //   <table>_r{g}_sv_g_hwm  (lineage, hwm) — replay marks
  //   <table>_sh             (nshards, rsgen) — THE routing sidecar
  //   <table>_serve          per-shard serving rows (dials/mode/depth)
  //
  // This is the ONLY persisted IVF-ADC tier: an unsharded index is the
  // nShards = 1 layout (one reader in the set, as in the reference),
  // and every probe, append, stream, delete, compaction, retrain, tune
  // and serve below is the one implementation. Protocol: generation
  // commits, epoch flips, tombstones, replay marks and crash heals,
  // with shard as a KEY COLUMN. An append/stream batch commits ALL
  // shards' generation rows in ONE single-file append (a batch is
  // committed for every shard or for none).

  /** Shard routing: `pmod(id, nShards)` — for integer keys this IS the
    * reference partitioner's law (HashPartitioner of an IntWritable is
    * `value % partitions`, the exact function
    * MapFileOutputFormat.getEntry replays at lookup). Deterministic,
    * balanced for dense id spaces, and trivially reproducible by an
    * external SQL oracle.
    *
    * NON-NEGATIVE ids only (enforced by every sharded mutator —
    * [[requireNonNegIds]] for batch-sized mutations,
    * [[shardCountsChecked]]'s fused pass for corpus-sized builds):
    * for a negative id `pmod` (always-positive) and the `%` a SQL
    * oracle or Java's HashPartitioner computes (sign-of-dividend)
    * route to DIFFERENT shards, so the claimed oracle parity and
    * partitioner equivalence both silently break. */
  private def shardOf(idCol: String, nShards: Int): Column =
    pmod(col(idCol), lit(nShards.toLong))

  /** Loud precondition of the sharded tier's routing law — see
    * [[shardOf]]. ONE min() aggregation job over the caller's frame —
    * batch-sized for appends/deletes, but a FULL PASS on a filtered/
    * joined corpus frame (min/max pushdown cannot serve those), which
    * is why the corpus-sized entry points (build/reshard) fold the
    * check into [[shardCountsChecked]]'s routing pass instead of
    * calling this (ADVICE r19). */
  private def requireNonNegIds(df: DataFrame, idCol: String,
      op: String): Unit = {
    val row = df.agg(min(col(idCol)).cast("long")).head()
    require(row.isNullAt(0) || row.getLong(0) >= 0L,
      s"$op: sharded ADC ids must be non-negative (min ${row.get(0)}) — " +
        "pmod routing and the oracle's sign-of-dividend % diverge below 0")
  }

  /** Per-shard routed counts AND the id-sign check in ONE corpus pass
    * (ADVICE r19: the old separate min() agg re-scanned the corpus) —
    * the build/reshard entry derives each shard's occupancy-constant
    * nlist from exactly this. Fails loudly on a negative id or an
    * empty shard (nothing to train that shard's quantizer on — choose
    * fewer shards). */
  private def shardCountsChecked(vecs: DataFrame, idCol: String,
      nShards: Int, op: String): Array[Long] = {
    val rows = vecs.groupBy(shardOf(idCol, nShards).cast("int").as("s"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).cast("long").as("m"))
      .collect()
    val counts = new Array[Long](nShards)
    rows.foreach { r =>
      require(!r.isNullAt(2) && r.getLong(2) >= 0L,
        s"$op: sharded ADC ids must be non-negative (min ${r.get(2)}) " +
          "— pmod routing and the oracle's sign-of-dividend % diverge " +
          "below 0")
      counts(r.getInt(0)) = r.getLong(1)
    }
    (0 until nShards).foreach(s => require(counts(s) > 0,
      s"$op: shard $s of $nShards is empty — id space too sparse for " +
        "this shard count"))
    counts
  }

  /** The sharded index's ONE data table at reshard generation `rsgen`:
    * generation 0 is the build's `table_sv`; a [[reshardIvfAdcIndex]]
    * lands generation g > 0 under `table_r{g}_sv` — the one level of
    * naming indirection that gives RESHARD a single commit point (the
    * `_sh` sidecar swap flips every probe/mutator to the new layout
    * atomically). */
  private def svDataTable(table: String, rsgen: Long): String =
    if (rsgen == 0L) s"${table}_sv" else s"${table}_r${rsgen}_sv"

  /** ENFORCE the generation-name-grammar reservation at build time
    * (ADVICE r19, medium): [[dropStaleShardGens]] sweeps every catalog
    * name matching `<table>(_r<g>)?_sv(...)`, so a sharded index whose
    * OWN name ends in `_r<g>` or `_sv` would make another index's
    * sweep (or its own) ambiguous. Refusing the name at build beats
    * silently destroying a colliding index at the next rebuild. */
  private def requireShardableName(table: String): Unit =
    require(!table.matches(".*_r\\d+$") && !table.endsWith("_sv"),
      s"$table: sharded index names ending in _r<g> or _sv are " +
        "reserved by the reshard-generation name grammar — pick " +
        "another name")

  /** (shard count, reshard generation) from the sidecar — every
    * sharded entry point resolves layout through this one read. A
    * sidecar written before the reshard operation existed has no
    * `rsgen` column and reads as generation 0 (the original naming);
    * a sidecar that HAS the column but holds null there is corrupt and
    * fails naming the table (resolving it to 0 would silently read
    * another generation's tables). Heals a reshard commit's crashed
    * sidecar swap first, like every swap-written sidecar. */
  private def readShardMeta(spark: SparkSession, table: String)
      : (Int, Long) = {
    val t = table + "_sh"
    MergeTables.recoverCompactCrash(spark, t)
    require(spark.catalog.tableExists(t),
      s"$table has no shard sidecar — not a sharded ADC index")
    // driver-side sidecar read (r22): one-row layout table, was a
    // head() job per probe plan; same healed fresh listing.
    val row = graft.sources.SidecarRead.rows(spark, t).headOption
      .getOrElse(throw new IllegalStateException(s"$t has no rows"))
    (row.getInt("nshards"),
      if (row.fields.contains("rsgen")) row.getLong("rsgen") else 0L)
  }

  private def readShardCount(spark: SparkSession, table: String): Int =
    readShardMeta(spark, table)._1

  /** The name grammar's tail after `_sv`: the layout's own side tables
    * (centroids, commits, replay marks, tombstones), each optionally
    * under its swap shadow. */
  private val svTail = "(_c|_g|_g_hwm|" + MergeTables.tombstoneSuffix +
    ")?(_compact_shadow)?$"

  /** Sweep the one-table layouts of every reshard generation OTHER
    * than `liveGen` — the heal for a reshard's one non-atomic residue:
    * its post-commit GC. A crash between the sidecar commit and the GC
    * leaves the retired generation's tables orphaned (inert — no
    * reader resolves them — but residue), and a crashed ATTEMPT leaves
    * its next-generation tables half-built; both match the
    * generation-name grammar and neither is the live generation, so
    * one catalog sweep at the next reshard/build entry removes them.
    * Regex-precise (NOT a glob — `_sh` and `_serve` must survive), and
    * the grammar is RESERVED at build time ([[requireShardableName]],
    * ADVICE r19) so no unrelated index can sit inside it. */
  private def dropStaleShardGens(spark: SparkSession, table: String,
      liveGen: Long): Unit = {
    val q = java.util.regex.Pattern.quote(table)
    val gen0 = s"^${q}_sv$svTail".r
    val genR = s"^${q}_r(\\d+)_sv$svTail".r
    spark.sessionState.catalog
      .listTables(spark.catalog.currentDatabase).map(_.table)
      .foreach { t =>
        val gen: Option[Long] = t match {
          case genR(g, _, _) => Some(g.toLong)
          case gen0(_, _)    => Some(0L)
          case _             => None
        }
        if (gen.exists(_ != liveGen))
          spark.sql(s"DROP TABLE IF EXISTS `$t`")
      }
  }

  /** One probe/mutation's resolved view of the sharded index:
    * generation layout plus the per-shard PROTOCOL state — active
    * epoch per shard and the committed (shard, gen, epoch) set — from
    * ONE read of the `_g` table (the per-shard layout paid one epoch
    * job PER SHARD here). The `_g` row count is compaction-bounded, so
    * the collect is protocol-sized, never corpus-sized.
    *
    * The snapshot also carries the `_c` centroid-file listing, taken
    * at most once per snapshot and only when a key is asked for: the
    * PERSISTED serving-state key ([[key]]) and the broadcast memo key
    * ([[memoKey]]) are pure functions of the snapshot, so one serve
    * call that checks its stored decision and then probes lists the
    * centroid files once. */
  private[graft] final case class SvState(table: String, nShards: Int,
      rsgen: Long, dataT: String, epochs: Array[Long],
      committed: Array[(Int, Long, Long)])(
      @transient private val spark: SparkSession) {
    lazy val centroidFiles: Seq[String] =
      MergeTables.freshInputFiles(spark, dataT + "_c")

    /** The PERSISTED serving-state key: per-shard epochs + the centroid
      * file snapshot + layout meta, WITHOUT the application id — stored
      * dials must survive a driver restart. Any shard's retrain, a
      * reshard, a rebuild or a centroid GC changes it; the file
      * snapshot (not the epoch numbers alone) catches a same-name
      * rebuild, whose epochs restart at 0. */
    lazy val key: String = epochs.mkString(",") + "|" +
      centroidFiles.mkString(",") + s"|n=$nShards|g=$rsgen"

    /** The combined-broadcast memo key: [[key]] scoped to this
      * SparkContext — a broadcast memoized under a stopped context is a
      * dead handle, and a same-JVM session restart with unchanged table
      * state would otherwise serve it. */
    def memoKey: String = spark.sparkContext.applicationId + ":" + key
  }

  /** The index's state as it stands now: every call re-reads the
    * sidecars and re-lists, so a foreign process's retrain, rebuild or
    * append is seen by the very next probe. */
  private[graft] def svState(spark: SparkSession, table: String)
      : SvState = {
    val (nShards, rsgen) = readShardMeta(spark, table)
    val dataT = svDataTable(table, rsgen)
    val gt = dataT + "_g"
    MergeTables.recoverCompactCrash(spark, dataT)
    MergeTables.recoverCompactCrash(spark, gt)
    require(spark.catalog.tableExists(gt),
      s"$table has no generation table at $gt — not a sharded ADC index")
    // driver-side sidecar read (r22): the per-shard protocol rows are
    // compaction-bounded; the collect here was one blocking job per
    // probe plan. Same healed fresh listing, identical rows.
    val rows = graft.sources.SidecarRead.rows(spark, gt)
      .map(r => (r.getInt("shard"), r.getLong("gen"), r.getLong("epoch")))
    val epochs = Array.fill(nShards)(-1L)
    rows.foreach { case (s, _, e) => if (e > epochs(s)) epochs(s) = e }
    (0 until nShards).foreach(s => require(epochs(s) >= 0L,
      s"$table: shard $s has no committed generations — corrupt index"))
    val committed = rows.iterator
      .filter { case (s, _, e) => e == epochs(s) }.toArray
    SvState(table, nShards, rsgen, dataT, epochs, committed)(spark)
  }

  /** Release the combined broadcasts of a sharded index's data table
    * after any layout/epoch mutation. */
  private def invalidateSvCaches(dataT: String): Unit = {
    Option(svQuantMemo.remove(dataT)).foreach(_._2.unpersist(false))
    Option(svHierMemo.remove(dataT)).foreach(_._2.unpersist(false))
  }

  /** [[SvState.key]] of the index's current, freshly read state. */
  private[graft] def svStateNow(spark: SparkSession, table: String)
      : String =
    svState(spark, table).key

  /** Fail LOUDLY if the index's quantizer state changed since `key0`
    * — the multi-audit tuner's guard. Each audit resolves the state
    * per plan, so a mid-tune retrain, reshard or rebuild would mix
    * recalls measured against different quantizers and the returned
    * dials would describe no actual index state; the lock cannot be
    * held for a minutes-long tune (it would block every append), so
    * the tuner verifies instead. The key holds the centroid FILE
    * snapshot, not the epoch numbers alone: a same-name rebuild
    * restarts epochs at 0 (ADVICE r17). */
  private[graft] def requireSvStable(spark: SparkSession, table: String,
      key0: String): Unit =
    require(svStateNow(spark, table) == key0,
      s"$table was retrained, resharded or rebuilt mid-tune — the " +
        "measured recalls mix quantizer states; rerun the tune")

  /** Every shard's centroids at its active epoch, read in ONE pass of
    * the shared `_c` table (nlist-bounded rows, the same driver state
    * the trainers hold). */
  private def readSvCentroids(spark: SparkSession, st: SvState)
      : Array[Array[Array[Double]]] = {
    val rows = MergeTables.freshView(spark, st.dataT + "_c")
      .select(col("shard").cast("int"), col("cell"), col("cent"),
        col("epoch"))
      .collect()
    (0 until st.nShards).map { s =>
      val cs = rows.filter(r =>
          r.getInt(0) == s && r.getLong(3) == st.epochs(s))
        .sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      require(cs.nonEmpty, s"${st.table}: shard $s has no stored " +
        s"centroids at epoch ${st.epochs(s)}")
      cs
    }.toArray
  }

  /** Process-level memos of the COMBINED quantizer broadcasts — one
    * shipped ShardedQuant/ShardedHier per (data table, epochs,
    * centroid snapshot). A retrain's epoch flip re-keys the entry and
    * unpersists the old broadcast (non-blocking — in-flight plans
    * holding the old handle just re-fetch). */
  private val svQuantMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Broadcast[ShardedQuant])]()
  private val svHierMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Broadcast[ShardedHier])]()

  private def svQuantBc(spark: SparkSession, st: SvState)
      : Broadcast[ShardedQuant] =
    memoBc(svQuantMemo, spark, st.dataT, st.memoKey)(
      ShardedQuant(readSvCentroids(spark, st)
        .map(NearestCellsBc.quantizerOf)))

  private def svHierBc(spark: SparkSession, st: SvState)
      : Broadcast[ShardedHier] =
    memoBc(svHierMemo, spark, st.dataT, st.memoKey)(
      ShardedHier(readSvCentroids(spark, st)
        .map(graft.functions.NearestCellsHier.group)))

  /** The packed (gcell, shard, cell, id, qc, scale) rows of a
    * mixed-shard vector frame in ONE pass: each row routes by
    * [[shardOf]] and assigns to ITS shard's quantizer through the
    * combined broadcast ([[graft.functions.NearestCellsSharded]]'s
    * assign kernel — the single-shard kernel on that shard's slice, so
    * assignment is bit-identical to the retired per-shard pass).
    * `epochOf(shardCol)` stamps each row with its shard's target epoch
    * (a map literal at the appends — shards retrain independently; a
    * constant at a build and at one shard's retrain re-pack). */
  private def svPackedRows(vecs: DataFrame, idCol: String,
      vecCol: String, bc: Broadcast[ShardedQuant],
      nShards: Int, gen: Long, epochOf: Column => Column): DataFrame = {
    val sc = VectorOps.maxAbs(col(vecCol))
    val shardC = shardOf(idCol, nShards).cast("int")
    vecs.select(
        shardC.as("shard"),
        NearestCellsSharded.assign(col(vecCol), shardC, bc).as("cell"),
        col(idCol).as("id"),
        VectorOps.packQuant(col(vecCol), sc).as("qc"), sc.as("scale"))
      .select(
        (col("shard").cast("long") * lit(4294967296L) +
          col("cell").cast("long")).as("gcell"),
        col("shard"), col("cell"), col("id"), col("qc"), col("scale"))
      .withColumn("gen", lit(gen))
      .withColumn("epoch", epochOf(col("shard")))
  }

  /** A shard→active-epoch map literal from the resolved state — how
    * write paths stamp mixed-shard batches and probes prune the scan
    * to active epochs. */
  private def svEpochMap(st: SvState): Column =
    typedLit(st.epochs.zipWithIndex.map { case (e, s) => s -> e }.toMap)

  /** Train one shard's coarse quantizer over its routed subset:
    * occupancy-constant nlist from the shard's count, the bounded
    * deterministic [[trainingSample]], [[trainCoarseQuantizer]] — the
    * derivation the q99 and qg oracles unroll as CTE chains (at
    * nShards = 1 the subset is the whole corpus). */
  private def svTrainShard(vecs: DataFrame, idCol: String,
      vecCol: String, nShards: Int, s: Int, n: Long,
      targetRecall: Double, dim: Int, init: String)
      : Array[Array[Double]] = {
    val sub = vecs.filter(shardOf(idCol, nShards) === s)
    val (nlist, _) = ivfParams(n, targetRecall)
    trainCoarseQuantizer(
      trainingSample(sub, idCol, vecCol, trainingCap(nlist)),
      vecCol, nlist, dim, init = init)
  }

  /** The (shard, cell, cent, epoch) rows of trained quantizers —
    * build/retrain/reshard share it so the stored form cannot
    * diverge. */
  private def svCentroidRows(spark: SparkSession,
      quants: Seq[(Int, Array[Array[Double]])], epoch: Long)
      : DataFrame = {
    import spark.implicits._
    quants.flatMap { case (s, cents) =>
      cents.zipWithIndex.map { case (c, i) => (s, i, c.toSeq, epoch) }
    }.toDF("shard", "cell", "cent", "epoch")
  }

  /** Land a complete one-table layout at `dataT` over `vecs` — the
    * shared body of [[writeIvfAdcIndexSharded]] (generation 0) and
    * [[reshardIvfAdcIndex]] (the inert next generation): per-shard
    * training (skipped when `cents` carries one pre-trained quantizer
    * per shard), ONE packed corpus pass through the combined broadcast,
    * the bucketed write, centroids and the gen-0 commit rows. Returns
    * the per-shard quantizers. */
  private def svBuildLayout(vecs: DataFrame, idCol: String,
      vecCol: String, dataT: String, nShards: Int, counts: Array[Long],
      dim: Int, targetRecall: Double, init: String,
      cents: Seq[Array[Array[Double]]]): Seq[Array[Array[Double]]] = {
    val spark = vecs.sparkSession
    // a fresh layout has no committed batches, no tombstones, no stale
    // replay marks and no stale broadcasts
    MergeTables.dropHwms(spark, dataT + "_g")
    MergeTables.dropTombstones(spark, dataT)
    require(cents.isEmpty || cents.length == nShards,
      s"${cents.length} pre-trained quantizers for $nShards shards")
    val quants = (0 until nShards).map(s =>
      s -> (if (cents.nonEmpty) cents(s)
        else svTrainShard(vecs, idCol, vecCol, nShards, s, counts(s),
          targetRecall, dim, init)))
    val bc = spark.sparkContext.broadcast(ShardedQuant(
      quants.map(q => NearestCellsBc.quantizerOf(q._2)).toArray))
    try graft.sources.MapFiles.write(
      svPackedRows(vecs, idCol, vecCol, bc, nShards, gen = 0L,
        _ => lit(0L)),
      "gcell", ivfIndexBuckets, dataT)
    finally bc.unpersist(false)
    graft.sources.MapFiles.write(
      svCentroidRows(spark, quants, 0L), "cell", 1, dataT + "_c")
    import spark.implicits._
    graft.sources.MapFiles.write(
      (0 until nShards).map(s => (s, 0L, -1L, 0L))
        .toDF("shard", "gen", "batch_key", "epoch"),
      "gen", 1, dataT + "_g")
    quants.map(_._2)
  }

  /** Build the persisted ADC index (q99; qg1 at nShards > 1) — the
    * [[ivfAdcTopK]] corpus side written ONCE into the MapFile bucketed
    * layout ([[graft.sources.MapFiles]]): route by [[shardOf]], train
    * one coarse quantizer PER SHARD on its own rows (occupancy-constant
    * nlist from each shard's OWN count), pack the whole corpus in ONE
    * pass against the combined broadcast into ONE bucketed table keyed
    * by the global cell id, then commit the shard count as the `_sh`
    * sidecar so probes and lifecycle ops are self-describing. Every
    * probe then reads 64-byte codes with NO shuffle on the stored side
    * (plan-asserted). Every shard must be non-empty (an empty shard has
    * nothing to train a quantizer on — choose fewer shards).
    *
    * `cents` (one quantizer per shard) skips training and codes the
    * corpus against the given quantizers — how a caller rebuilds an
    * index bit-comparable to a grown one. Returns the per-shard
    * quantizers. Reference analog: `MapFileOutputFormat`'s
    * build-then-`getEntry` contract (mapred/MapFileOutputFormat.java:39). */
  def writeIvfAdcIndexSharded(vecs: DataFrame, idCol: String,
      vecCol: String, table: String, nShards: Int = 1, dim: Int = 64,
      targetRecall: Double = 0.8, init: String = "first",
      cents: Seq[Array[Array[Double]]] = Nil)
      : Seq[Array[Array[Double]]] = {
    require(nShards >= 1, s"nShards=$nShards")
    requireShardableName(table)
    val spark = vecs.sparkSession
    // counts + id-sign check in one routed pass (ADVICE r19)
    val counts = shardCountsChecked(vecs, idCol, nShards,
      "writeIvfAdcIndexSharded")
    // a rebuild replaces ANY previous layout at this name: sweep EVERY
    // generation (liveGen = -1 keeps nothing) — a live reshard
    // generation, a crashed attempt's half-build, a crashed GC's
    // orphans. The sweep is CONDITIONAL on the `_sh` sidecar (ADVICE
    // r20 low): requireShardableName reserves the grammar only among
    // SHARDED names, so without the sidecar a grammar-matching table
    // (`foo_sv`, …) may belong to an unrelated table —
    // refuse loudly instead of silently destroying it. A crashed FIRST
    // build (half-built tables, sidecar never written) trips the same
    // refusal; its message lists the tables to drop to proceed.
    if (spark.catalog.tableExists(table + "_sh"))
      dropStaleShardGens(spark, table, liveGen = -1L)
    else {
      val q = java.util.regex.Pattern.quote(table)
      val grammar = s"^${q}(_r\\d+)?_sv$svTail"
      val colliding = spark.sessionState.catalog
        .listTables(spark.catalog.currentDatabase).map(_.table)
        .filter(_.matches(grammar))
      require(colliding.isEmpty,
        s"building sharded index '$table' would sweep existing " +
          s"tables ${colliding.sorted.mkString(", ")} which no '" +
          table + "_sh' sidecar claims — they may belong to another " +
          "index (or be a crashed first build's residue): " +
          "drop them explicitly or pick another name")
    }
    val dataT = svDataTable(table, 0L)
    invalidateSvCaches(dataT)
    val quants = svBuildLayout(vecs, idCol, vecCol, dataT, nShards,
      counts, dim, targetRecall, init, cents)
    import spark.implicits._
    // a previous JVM's sidecar directory survives in the shared
    // warehouse while this session's catalog has no row for it —
    // overwrite-mode saveAsTable refuses the orphan location, so clear
    // it first (the MapFiles.write discipline)
    graft.sources.MapFiles.clearStaleLocation(spark, table + "_sh")
    Seq((nShards, 0L)).toDF("nshards", "rsgen").write.format("parquet")
      .mode("overwrite").saveAsTable(table + "_sh")
    quants
  }

  /** The probe-visible rows of the sharded index: active-epoch rows of
    * committed (shard, gen) pairs minus each shard's active tombstones
    * — ONE scan + one anti-join at ANY shard count (the per-shard
    * layout planned one scan + two broadcasts PER SHARD). The commit
    * set rides the already-collected protocol state ([[svState]]) as an
    * exact `(shard, epoch, gen)` predicate ([[committedAt]]), so
    * liveness resolution adds no join and no broadcast job to the
    * plan; the epoch In-filter reaches the scan and prunes
    * retired/orphan epochs' files from their row-group stats. */
  private[graft] def svLiveRows(spark: SparkSession, st: SvState,
      bucketedRead: Boolean = false): DataFrame = {
    val stored = (
      if (bucketedRead)
        graft.sources.MapFiles.readBucketed(spark, st.dataT)
      else MergeTables.freshView(spark, st.dataT))
      .filter(col("epoch").isin(
        st.epochs.distinct.sorted.map(Long.box): _*))
      .filter(committedAt(st))
    MergeTables.withoutTombstones(spark, st.dataT, stored, "id", "id")(
      atActiveEpochs(st))
  }

  /** The snapshot's commit set as a predicate: a row is live iff its
    * (shard, gen, epoch) triple is one of `st.committed` — the rows a
    * semi-join against the committed set keeps (the protocol writes no
    * null keys). One struct In over a compaction-bounded literal list,
    * evaluated in the scan's stage; it is not a source filter, so the
    * scan's pushed filters stay the epoch and cell In sets. */
  private def committedAt(st: SvState): Column =
    struct(col("shard"), col("gen"), col("epoch")).isin(
      st.committed.map { case (s, g, e) =>
        struct(lit(s).as("shard"), lit(g).as("gen"), lit(e).as("epoch"))
      }: _*)

  /** The `(shard, epoch)`-keyed rows of `df` at each shard's ACTIVE
    * epoch — the sharded index's tombstone scope (a retrain retires the
    * older tombstones) and the centroid GC's keep set. A predicate
    * from the snapshot, like [[committedAt]]. */
  private def atActiveEpochs(st: SvState)(df: DataFrame): DataFrame =
    df.filter(st.epochs.zipWithIndex.map { case (e, s) =>
      col("shard") === s && col("epoch") === e
    }.reduce(_ || _))

  /** The ONE-PLAN candidate stage of every probe: probe rows joined
    * against the stored bucketed table, pre-rank. `cellsOf` is the
    * plan-side combined-kernel column (flat or two-level, per-shard
    * dials baked into the expression), `localSel` its driver twin.
    * Candidates keep the `shard` column for the served path's
    * per-shard re-rank branch. Only int8 codes cross the join.
    *
    * PROBE SIDE: [[graft.sources.MapFiles.probeSide]] — the query
    * snapshot, the gcell In pushdown (up to 4,096 cells) and its one
    * fallback. This tier's packing: the driver runs the kernels the
    * plan would run (`max_abs`, `pack_quant` and `localSel`;
    * float→double widening is exact, null elements read as 0.0 like
    * the unsafe-row getters) into `(q_id, q_qc, qscale, gcell)` rows.
    * A streamed or over-cap side is packed by the plan kernels and
    * repartitioned on `gcell` to the index's bucket count — the
    * materialization barrier and the co-partitioning with the bucketed
    * layout in one query-sized exchange.
    *
    * JOIN SHAPE: the packed local relation has a known size, so the
    * planner picks the join — a small batch broadcasts, a large one
    * shuffles only the probe side onto the stored buckets (the
    * bucketed layout satisfies the join's distribution,
    * plan-asserted), or the pruned stored side broadcasts. No choice
    * can re-run `pack_quant` per candidate in the join stage
    * ([[ivfAdcTopK]]'s 39.6 s collapse signature): the codes are data. */
  private def svProbeCandidates(queries: DataFrame, idCol: String,
      vecCol: String, st: SvState, cellsOf: Column => Column,
      localSel: Array[Double] => Array[Long]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val side = queries.select(col(idCol), col(vecCol))
    // the plan kernels' input check, which the driver packing bypasses
    require(side.schema(1).dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _                                    => false
      }, s"$vecCol must be array<float|double>, got " +
        side.schema(1).dataType.sql)
    // qscale rides along (r21, ADVICE r20 high): the query-side maxAbs
    // the mixed-mode served merge needs to put quantized estimates on
    // the exact-dot scale — idot × (scale/127) × (qscale/127) ≈ the
    // true dot. Probe-only rankings ignore it (per-query constant).
    val packing = graft.sources.MapFiles.Packing(
      StructType(Seq(
        StructField("q_id", side.schema(0).dataType),
        StructField("q_qc", BinaryType, nullable = false),
        StructField("qscale", DoubleType, nullable = false),
        StructField("gcell", LongType, nullable = false))),
      r =>
        if (r.isNullAt(1)) Iterator.empty
        else {
          val v = r.getSeq[Number](1)
            .map(x => if (x == null) 0.0 else x.doubleValue()).toArray
          val a = new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
          val scale = graft.functions.Int8Ops.maxAbs(a, isFloat = false)
          val qc = graft.functions.Int8Ops.packQuant(a, isFloat = false,
            scale)
          localSel(v).iterator.map(g => Row(r.get(0), qc, scale, g))
        },
      _.select(col(idCol).as("q_id"),
          VectorOps.packQuant(col(vecCol), VectorOps.maxAbs(col(vecCol)))
            .as("q_qc"),
          VectorOps.maxAbs(col(vecCol)).as("qscale"),
          explode(cellsOf(col(vecCol))).as("gcell"))
        .repartition(ivfIndexBuckets, col("gcell")))
    val (probes, stored) = graft.sources.MapFiles.probeSide(side,
      svLiveRows(queries.sparkSession, st), "gcell", maxProbedCells,
      packing = Some(packing))
    probes.join(stored, Seq("gcell"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id").as("nb_id"),
        VectorOps.i8Dot(col("q_qc"), col("qc")).as("idot"),
        col("scale"), col("qscale"), col("shard"))
  }

  /** The most probed cells [[svProbeCandidates]] pushes to the stored
    * scan as an In list; past it the cell set stops being selective. */
  private val maxProbedCells = 4096

  /** [[svProbeCandidates]] through the FLAT combined kernel at
    * per-shard `nprobes` (0 skips a shard). */
  private def svFlatCandidates(queries: DataFrame, idCol: String,
      vecCol: String, st: SvState, bc: Broadcast[ShardedQuant],
      nprobes: Array[Int]): DataFrame =
    svProbeCandidates(queries, idCol, vecCol, st,
      v => NearestCellsSharded.flat(v, bc, nprobes),
      v => NearestCellsSharded.nearestFlat(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        isFloat = false, bc.value, nprobes))

  /** [[svProbeCandidates]] through the TWO-LEVEL combined kernel at
    * per-shard (`nprobes`, `gprobes`) (nprobe 0 skips a shard). */
  private def svHierCandidates(queries: DataFrame, idCol: String,
      vecCol: String, st: SvState, bc: Broadcast[ShardedHier],
      nprobes: Array[Int], gprobes: Array[Int]): DataFrame =
    svProbeCandidates(queries, idCol, vecCol, st,
      v => NearestCellsSharded.hier(v, bc, gprobes, nprobes),
      v => NearestCellsSharded.nearestHier(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        isFloat = false, bc.value, gprobes, nprobes))

  /** The fraction-law candidate stage of [[ivfAdcTopKIndexedSharded]],
    * pre-rank — package-visible so the plan specs can assert the
    * stored side's bucketed, vector-free join shape on it. */
  private[graft] def svFracCandidates(queries: DataFrame, idCol: String,
      vecCol: String, table: String, targetRecall: Double = 0.8)
      : DataFrame = {
    val spark = queries.sparkSession
    val st = svState(spark, table)
    val bc = svQuantBc(spark, st)
    svFlatCandidates(queries, idCol, vecCol, st, bc,
      svFracNprobes(bc, targetRecall))
  }

  /** Each shard's fraction-law nprobe from its OWN stored nlist — the
    * oracle-gated probe law, unchanged from the per-shard layout
    * (what keeps qg1–qg4's per-shard CTE chains valid). */
  private def svFracNprobes(bc: Broadcast[ShardedQuant],
      targetRecall: Double): Array[Int] = {
    val frac = probeFracEighths(targetRecall) / 8.0
    bc.value.quants.map { q =>
      val nlist = q.norms2.length
      math.max(1L, math.min(nlist.toLong,
        math.ceil(frac * nlist).toLong)).toInt
    }
  }

  /** Probe the persisted ADC index (q99, qg1): every query probes
    * EVERY shard's own quantizer at that shard's fraction-law nprobe
    * (derived from its STORED nlist — no corpus count at probe time;
    * at nShards = 1 exactly [[ivfParams]]' nprobe), all shards'
    * candidates emerge from ONE join on the global cell id, and ONE
    * global rank merges them — exact by construction (shards partition
    * the corpus, so the union is the complete fraction-law candidate
    * set and a stored row appears from exactly one shard). Per-query
    * coarse work is sum(nprobe_s) with nprobe_s ~ frac·nlist_s and
    * sum(nlist_s) = nlist — the fan-out costs what one shard costs,
    * while write/maintenance parallelism and per-quantizer
    * training locality scale with the shard count. ONE Catalyst plan
    * at any shard count: scan, broadcasts, exchange and task count are
    * all shard-count-independent (r19 verdict item 1 — the retired
    * per-shard plan fan-out paid ~0.1 s/shard of execution floor).
    * Output (q_id, nb_id, rank, idot) — [[ivfAdcTopK]]'s contract, so
    * q99 shares q89's oracle: the stored index loses nothing. */
  def ivfAdcTopKIndexedSharded(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, table: String,
      targetRecall: Double = 0.8): DataFrame =
    rankByScaledIdot(svFracCandidates(queries, idCol, vecCol, table,
      targetRecall), k)

  /** Per-shard serving dials of the TUNED sharded probe — what
    * [[tuneShardServing]] derives and [[ivfAdcTopKIndexedShardedTuned]]
    * consumes. `probeRecall`/`hierRecall` are the measured gates the
    * dials were accepted at (nprobe vs the shard's tuning reference,
    * gprobe vs the shard's quantizer ceiling at that nprobe). */
  final case class ShardDials(nprobe: Int, probeRecall: Double,
      gprobe: Int, hierRecall: Double)

  /** One shard's SERVING decision (r19 verdict item 2 — the
    * plateau→re-rank escalation composed onto the sharded tier):
    * `mode` is "probe" (the tuned two-level probe met the gate) or
    * "rerank" (the probe dial PLATEAUED below it — loss probing cannot
    * fix, the density regime — so the shard escalates to an exact-dot
    * re-rank of its top-`depth` candidates). `recall` is the measured
    * mean recall@k of the decided path against the tune's reference:
    * the shard's float-exact top-k when the tune had the float
    * vectors, its quantizer ceiling otherwise. */
  final case class ShardServing(mode: String, dials: ShardDials,
      depth: Int, recall: Double)

  /** The shard-pure candidate leg: the ONE-PLAN probe with every other
    * shard dialed to 0 (the combined kernel skips them) — what the
    * per-shard tuner ranks against. `gprobe` <= 0 selects the flat
    * kernel. */
  private def svShardCandidates(queries: DataFrame, idCol: String,
      vecCol: String, st: SvState, shard: Int, nprobe: Int,
      gprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    def only(dial: Int) =
      Array.tabulate(st.nShards)(s => if (s == shard) dial else 0)
    if (gprobe <= 0)
      svFlatCandidates(queries, idCol, vecCol, st, svQuantBc(spark, st),
        only(nprobe))
    else
      svHierCandidates(queries, idCol, vecCol, st, svHierBc(spark, st),
        only(nprobe), only(gprobe))
  }

  /** One shard's quantizer CEILING: every live stored row of the shard
    * scored for every query (nprobe = the shard's full nlist), i.e.
    * probing loss excluded, quantization loss kept — the reference the
    * gprobe dial always tunes against, and the nprobe dial too when
    * the tune has no float vectors. On corpora whose neighbor margins
    * sit at the int8 noise floor, end-to-end recall is
    * quantization-bounded no matter the probe dial, so tuning a probe
    * dial against float-exact MIPS would escalate it for loss it cannot
    * fix. */
  private def svShardCeiling(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, st: SvState, shard: Int, nlist: Int)
      : DataFrame =
    rankByScaledIdot(svShardCandidates(queries, idCol, vecCol, st,
      shard, nprobe = nlist, gprobe = 0), k)
      .select(col("q_id"), col("nb_id"))

  /** Run `body(shard)` for every shard on a bounded pool (r19 verdict
    * item 3 — the per-shard tunes are independent multi-audit Spark
    * workloads and ran SEQUENTIALLY; concurrent driver threads submit
    * jobs the scheduler interleaves). Pool width capped like the old
    * fan-out's. */
  private def svPerShard[A](nShards: Int)(body: Int => A): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(nShards, 8))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.sequence((0 until nShards).map(s => Future(body(s)))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** THE SERVING POLICY of the sharded index (r17 verdict item 2, per
    * shard since r19), one body for both references. Each shard
    * derives recall-gated ABSOLUTE dials — [[ivfParams]]' fraction law
    * probes `frac × nlist` cells because on CLUSTERLESS vectors recall
    * tracks the probed fraction, but on REAL clustered embeddings a
    * FIXED nprobe already covers the top-k ball at every corpus size
    * (BASELINE.md r17). The smallest nprobe whose measured mean
    * recall@k on the panel meets `targetRecall` comes first, then the
    * smallest two-level gprobe at it ([[tuneDial]]: doubling, binary
    * search, and a plateau cutoff). gprobe always gates against the
    * shard's quantizer ceiling ([[svShardCeiling]]): gating it against
    * the flat probe at nprobe would let the two gates COMPOUND — a
    * 0.8-vs-flat hier on a 0.8-vs-ceiling flat is ~0.64 end-to-end.
    * One gate per shard composes across shards: shards partition the
    * corpus, so a global top-k member lives in exactly one shard and
    * ranks at least as high in that shard's local top-k as globally.
    *
    * The reference follows the inputs:
    *   - `vecs = None`: the shard's quantizer ceiling. Every shard
    *     serves probe mode with `recall = hierRecall` (probe-only
    *     serving: no exact leg, no escalation).
    *   - `vecs = Some(live corpus)`: the shard's float-exact top-k —
    *     deliberately not the ceiling, because the policy exists to see
    *     the quantization loss re-ranking can fix. A shard whose nprobe
    *     meets the gate serves probe mode, its hier path re-measured
    *     end to end against the exact leg; a shard whose dial PLATEAUS
    *     below it (the density regime) escalates to the exact-dot
    *     re-rank at a tuned depth ([[svShardRerank]]).
    *
    * Monitoring-cadence: shards tune CONCURRENTLY on a bounded pool
    * (r19 verdict item 3) and the quantizer-state guard spans the
    * whole run. `queries` should be the monitoring panel (~hundreds of
    * rows), never the corpus. */
  def tuneShardServing(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, table: String, targetRecall: Double,
      minGain: Double = 0.005, vecs: Option[DataFrame] = None,
      maxDepthFactor: Int = 32): Seq[ShardServing] = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall=$targetRecall")
    require(maxDepthFactor >= 1, s"maxDepthFactor=$maxDepthFactor")
    val spark = queries.sparkSession
    val st = svState(spark, table)
    val key0 = st.key
    val nlists = svQuantBc(spark, st).value.quants.map(_.norms2.length)
    val res = svPerShard(st.nShards) { s =>
      val groups = math.max(1,
        math.ceil(math.sqrt(nlists(s).toDouble)).toInt)
      def ceilingLeg() = pinned(svShardCeiling(queries, idCol, vecCol, k,
        st, s, nlists(s)))
      // mean recall as total hits / (k × queries): integer sums and one
      // division, so the value (and a dial measured exactly at the
      // target) does not move with the plan's summation order
      def recallVs(ref: DataFrame, ranked: DataFrame): Double = {
        val r = recallOfApprox(ref, ranked, k)
          .agg(sum("hits"), count(lit(1))).head()
        r.getLong(0).toDouble / (k.toLong * r.getLong(1))
      }
      def probeAt(np: Int, gp: Int) = rankByScaledIdot(
        svShardCandidates(queries, idCol, vecCol, st, s, np, gp), k)
      val ref = vecs.fold(ceilingLeg())(v => pinned(exactMipsTopK(
        v.filter(shardOf(idCol, st.nShards) === s), queries, idCol,
        vecCol, k)))
      try {
        val (np, npRec) = tuneDial(nlists(s), targetRecall, minGain)(
          np => recallVs(ref, probeAt(np, 0)))
        // density regime / last resort: no probe dial meets the gate —
        // escalate to the exact-dot re-rank, depth as a multiplier
        // over k (depth = k reorders but cannot change recall)
        def escalate(v: DataFrame): ShardServing = {
          val (mult, rrRec) = tuneDial(maxDepthFactor, targetRecall,
            minGain)(m => recallVs(ref, svShardRerank(v, queries, idCol,
              vecCol, k, depth = m * k, nprobe = np, st, s)))
          ShardServing("rerank", ShardDials(np, npRec, 0, 0.0),
            depth = mult * k, recall = rrRec)
        }
        def probeMode(gp: Int, gRec: Double, recall: Double) =
          ShardServing("probe", ShardDials(np, npRec, gp, gRec),
            depth = 0, recall = recall)
        vecs match {
          case Some(v) if npRec < targetRecall => escalate(v)
          case _ =>
            val ceiling = if (vecs.isEmpty) ref else ceilingLeg()
            try {
              val (gp, gRec) = tuneDial(groups, targetRecall, minGain)(
                gp => recallVs(ceiling, probeAt(np, gp)))
              vecs.fold(probeMode(gp, gRec, gRec)) { v =>
                // the decided hier path re-measured END-TO-END against
                // the exact leg; when it misses the gate although the
                // flat dial met it (the compounding-gates seam, ADVICE
                // r20 medium) fall back to gprobe = the full group
                // count (the flat-equivalent clamp), and if even that
                // misses, escalate — a below-gate probe decision is
                // never returned
                val e2e = recallVs(ref, probeAt(np, gp))
                lazy val e2eFlat = recallVs(ref, probeAt(np, groups))
                if (e2e >= targetRecall) probeMode(gp, gRec, e2e)
                else if (e2eFlat >= targetRecall)
                  probeMode(groups, recallVs(ceiling, probeAt(np, groups)),
                    e2eFlat)
                else escalate(v)
              }
            } finally if (vecs.isDefined) ceiling.unpersist(false)
        }
      } finally ref.unpersist(false)
    }
    requireSvStable(spark, table, key0)
    res
  }

  /** One shard's exact-dot RE-RANK leg: the shard-pure flat candidates
    * at `nprobe` ranked to top-`depth`, then ONLY those survivors join
    * the full float vectors for the exact dot — [[ivfAdcRerank]]'s
    * scale shape (corpus vectors never enter an exchange; the only
    * float payload moving is the query vectors riding a
    * candidate-scale broadcast). */
  private def svShardRerank(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, depth: Int, nprobe: Int,
      st: SvState, shard: Int): DataFrame = {
    val survivors = rankByScaledIdot(
      svShardCandidates(queries, idCol, vecCol, st, shard, nprobe,
        gprobe = 0), depth)
      .select(col("q_id"), col("nb_id"))
    val qs = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val withQ = qs.join(broadcast(survivors), Seq("q_id"))
      .select(col("q_id"), col("nb_id"), col("qv"))
    val rescored = vecs
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(broadcast(withQ), col("id") === col("nb_id"))
      .select(col("q_id"), col("nb_id"),
        dot(col("qv"), col("v")).as("cos"))
    rankTopK(rescored, k).withColumnRenamed("cos", "score")
  }

  /** Persist per-shard SERVING rows (r18 verdict item 3 — every
    * serving session re-paid the exact leg while the decision lived only
    * in the caller): one row per shard in the swap-written
    * `<table>_serve` sidecar, keyed by [[SvState.key]] (NO application
    * id — stored dials must survive a driver restart) so ANY shard's
    * retrain, a reshard, or a rebuild refuses the stored rows stale at
    * read. */
  def writeShardServing(spark: SparkSession, table: String,
      servings: Seq[ShardServing]): Unit = {
    import spark.implicits._
    val t = table + "_serve"
    MergeTables.recoverCompactCrash(spark, t)
    val key = svStateNow(spark, table)
    MergeTables.swapInKeyed(spark,
      servings.zipWithIndex.map { case (sv, s) =>
        (s, sv.mode, sv.dials.nprobe, sv.dials.probeRecall,
          sv.dials.gprobe, sv.dials.hierRecall, sv.depth, sv.recall,
          key)
      }.toDF("shard", "mode", "nprobe", "probe_recall", "gprobe",
        "hier_recall", "depth", "recall", "state_key"),
      "shard", t)
  }

  /** Read the persisted per-shard serving rows against a FRESH
    * snapshot, REFUSING them stale: None when nothing is stored or any
    * shard's quantizer state changed since the tune (a retrain,
    * reshard, rebuild or centroid GC — [[SvState.key]]). */
  def readShardServing(spark: SparkSession, table: String)
      : Option[Seq[ShardServing]] =
    servingRows(spark, svState(spark, table))

  /** The stored serving rows of `st`'s index when they were tuned
    * against exactly `st` — metadata + one sidecar read; no ceiling or
    * exact leg. */
  private def servingRows(spark: SparkSession, st: SvState)
      : Option[Seq[ShardServing]] = {
    val t = st.table + "_serve"
    MergeTables.recoverCompactCrash(spark, t)
    if (!spark.catalog.tableExists(t)) return None
    // driver-side sidecar read (r22): per-shard decision rows, was a
    // collect job per serving-stack plan; same healed fresh listing
    val rows = graft.sources.SidecarRead.rows(spark, t)
      .sortBy(_.getInt("shard"))
    if (rows.isEmpty || rows.head.getString("state_key") != st.key) None
    else Some(rows.map(r => ShardServing(r.getString("mode"),
      ShardDials(r.getInt("nprobe"), r.getDouble("probe_recall"),
        r.getInt("gprobe"), r.getDouble("hier_recall")),
      r.getInt("depth"), r.getDouble("recall"))).toSeq)
  }

  /** [[tuneShardServing]] + [[writeShardServing]] — the
    * monitoring-cadence loop of the sharded serving deployment. */
  def tuneShardServingPersist(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, table: String, targetRecall: Double,
      minGain: Double = 0.005, vecs: Option[DataFrame] = None,
      maxDepthFactor: Int = 32): Seq[ShardServing] = {
    val servings = tuneShardServing(queries, idCol, vecCol, k, table,
      targetRecall, minGain, vecs, maxDepthFactor)
    writeShardServing(queries.sparkSession, table, servings)
    servings
  }

  /** The probe-only [[tuneShardServingPersist]] returning the dials —
    * kept as the entry point the serving benchmark calls. */
  def tuneShardDialsPersist(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, table: String, targetRecall: Double,
      minGain: Double = 0.005): Seq[ShardDials] =
    tuneShardServingPersist(queries, idCol, vecCol, k, table,
      targetRecall, minGain).map(_.dials)

  /** Serve through the STORED per-shard decision, read against ONE
    * fresh snapshot that both checks the decision for staleness and
    * drives the probe (a retrain between the two cannot split them).
    * Refuses stale or missing rows loudly. Probe-mode shards serve
    * their tuned two-level probe; rerank-mode shards need the live
    * corpus as `vecs` (the exact-dot re-rank joins the float vectors),
    * and without it the call refuses an escalated store, naming the
    * shards. Output: (q_id, nb_id, rank, score) — [[svServedRank]]. */
  def ivfAdcTopKIndexedShardedTuned(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, table: String,
      vecs: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    val st = svState(spark, table)
    val servings = servingRows(spark, st).getOrElse(
      throw new IllegalStateException(
        s"$table has no fresh per-shard serving rows — a shard was " +
          "retrained, the index was resharded/rebuilt, or it was never " +
          "tuned: run tuneShardServingPersist at monitoring cadence, " +
          "then serve"))
    svServedRank(queries, idCol, vecCol, k, st, servings, vecs)
  }

  /** The tuned probe at EXPLICIT per-shard dials — the dial-sweep
    * primitive (every shard in probe mode, the index state read fresh
    * like the fraction-law probe). OPT-IN serving path: recall is a
    * measured, gated quantity; never substituted under an oracle-gated
    * query. */
  def ivfAdcTopKIndexedShardedTuned(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, table: String, dials: Seq[ShardDials])
      : DataFrame =
    svServedRank(queries, idCol, vecCol, k,
      svState(queries.sparkSession, table),
      dials.map(d => ShardServing("probe", d, depth = 0,
        recall = d.hierRecall)), vecs = None)

  /** THE served rank of the sharded index: ONE plan, one global rank
    * over at most two candidate branches, O(1) in the shard count.
    *
    * Probe-mode shards contribute their TWO-LEVEL tuned candidates
    * ([[graft.functions.NearestCellsHier]]: ceil(sqrt(nlist)) group
    * centroids scanned, then only the `gprobe` nearest groups' member
    * cells — O(sqrt(nlist)) coarse work per query instead of the flat
    * scan's O(nlist); at `gprobe` = the group count the cell set is
    * the flat kernel's, spec-gated bit-equal). Per-query work per shard
    * is nprobe_s × occupancy = CONSTANT in the shard's corpus.
    * Rerank-mode shards contribute their top-`depth` flat candidates
    * RE-SCORED by the exact float dot ([[svShardRerank]]'s join shape,
    * all rerank shards in ONE branch); without `vecs` the call is
    * refused, naming them — served probe-only they would serve below
    * their gate.
    *
    * One global rank merges on a shared dot-estimate key, ties by
    * nb_id. With one mode present the probe key is [[rankByScaledIdot]]'s
    * raw idot × scale, so an all-probe store ranks exactly like the
    * fraction-law probe's key. In a MIXED store (ADVICE r20 high) the
    * probe rows merge with exact float dots and move onto the exact-dot
    * scale — idot × (scale/127) × (qscale/127), the dequantized
    * estimate; the raw key is ~127²/qscale times the true dot and would
    * starve every rerank shard's true top-k out of the merge. */
  private def svServedRank(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, st: SvState, servings: Seq[ShardServing],
      vecs: Option[DataFrame]): DataFrame = {
    val spark = queries.sparkSession
    require(servings.length == st.nShards,
      s"${servings.length} serving dials for ${st.nShards} shards — " +
        "tune with tuneShardServing against this index")
    val modes = servings.map(_.mode).toSet
    if (vecs.isEmpty && modes("rerank"))
      throw new IllegalStateException(s"${st.table} has ESCALATED " +
        "shards (" + servings.indices.filter(servings(_).mode == "rerank")
          .mkString(", ") + " in rerank mode): serving them probe-only " +
        "would serve below their gate — pass the live corpus as vecs")
    def dialsIn(mode: String)(dial: ShardServing => Int) =
      servings.map(sv => if (sv.mode == mode) dial(sv) else 0).toArray
    val probe = Option.when(modes("probe")) {
      val idot = col("idot").cast("double") * col("scale")
      val score =
        if (modes("rerank"))
          idot * col("qscale") / lit(127.0 * 127.0)
        else idot
      svHierCandidates(queries, idCol, vecCol, st, svHierBc(spark, st),
          dialsIn("probe")(_.dials.nprobe),
          dialsIn("probe")(_.dials.gprobe))
        .select(col("q_id"), col("nb_id"), score.as("score"))
    }
    val rerank = vecs.filter(_ => modes("rerank")).map { corpus =>
      val cands = svFlatCandidates(queries, idCol, vecCol, st,
        svQuantBc(spark, st), dialsIn("rerank")(_.dials.nprobe))
      // a depth tuned at a smaller k still re-ranks at least k
      // survivors: fewer could never fill the caller's top-k
      val depths = typedLit(servings.zipWithIndex.collect {
        case (sv, s) if sv.mode == "rerank" => s -> math.max(sv.depth, k)
      }.toMap)
      val survivors = cands
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("q_id", "shard")
            .orderBy((-col("idot").cast("double") * col("scale")).asc,
              col("nb_id").asc)))
        .filter(col("r") <= element_at(depths, col("shard")))
        .select(col("q_id"), col("nb_id"))
      val qs = queries.select(col(idCol).as("q_id"),
        col(vecCol).as("qv"))
      val withQ = qs.join(broadcast(survivors), Seq("q_id"))
        .select(col("q_id"), col("nb_id"), col("qv"))
      corpus
        .select(col(idCol).as("id"), col(vecCol).as("v"))
        .join(broadcast(withQ), col("id") === col("nb_id"))
        .select(col("q_id"), col("nb_id"),
          dot(col("qv"), col("v")).as("score"))
    }
    (probe ++ rerank).reduce(_ unionByName _)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy((-col("score")).asc, col("nb_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nb_id"), col("rank"), col("score"))
  }

  /** Streaming ADC retrieval (qa6, qg4) — [[ivfAdcTopKIndexedSharded]]
    * with the query vectors ARRIVING AS A STREAM, the online serving
    * shape of the persisted index: query vectors probe every shard
    * inside ONE stream-static join (the stored side keeps its bucketed
    * layout, no archive-side shuffle per micro-batch — spec-asserted);
    * the per-batch rank is EXACT, not an approximation — the static
    * side emits a candidate row only for a probe row of the current
    * batch, so a query's entire merged candidate set lives in the one
    * micro-batch that carried it. The stream-static candidate frame is
    * the stream of the shared sink loop ([[startProbeSink]]), which
    * ranks each batch into `sinkDir`. Returns the started query; the
    * caller drains it and reads the sink back. Gate: qa6 shares q99's
    * oracle and qg4 qg1's verbatim (stream == batch == oracle — the
    * q70s discipline). */
  def startStreamAdcTopKSharded(stream: DataFrame, idCol: String,
      vecCol: String, k: Int, table: String, sinkDir: String,
      targetRecall: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val st = svState(stream.sparkSession, table)
    val bc = svQuantBc(stream.sparkSession, st)
    startProbeSink(svFlatCandidates(stream, idCol, vecCol, st, bc,
      svFracNprobes(bc, targetRecall)), sinkDir)(
      rankByScaledIdot(_, k))
  }

  /** Step 1 of a sharded append — the packed-row write WITHOUT the
    * commit: one assignment pass of the mixed-shard batch against the
    * combined broadcast (each row to ITS shard's FROZEN quantizer at
    * that shard's active epoch), rows landing as new files in the
    * existing gcell buckets. Package-visible for the atomicity spec. */
  private[graft] def svAppendRowsOnly(newVecs: DataFrame, idCol: String,
      vecCol: String, st: SvState, gen: Long): Unit = {
    val spark = newVecs.sparkSession
    val em = svEpochMap(st)
    graft.sources.MapFiles.append(
      svPackedRows(newVecs, idCol, vecCol, svQuantBc(spark, st),
        st.nShards, gen, sh => element_at(em, sh)),
      st.dataT)
  }

  /** Step 2 — the commit: ONE single-file append of every shard's
    * generation row (shard, gen, batchKey, that shard's epoch). One
    * file rename = the whole batch commits for EVERY shard or for
    * none — the per-shard layout's between-shard-commits crash window
    * no longer exists. */
  private[graft] def svCommitGen(spark: SparkSession, st: SvState,
      gen: Long, batchKey: Long = -1L): Unit = {
    import spark.implicits._
    graft.sources.MapFiles.append(
      (0 until st.nShards).map(s => (s, gen, batchKey, st.epochs(s)))
        .toDF("shard", "gen", "batch_key", "epoch").coalesce(1),
      st.dataT + "_g")
  }

  /** Append a vector batch (qc3): ONE routed assignment pass, each
    * row against its own shard's STORED quantizer (the production
    * contract — retraining would re-assign the whole archive), one
    * bucketed row append into the existing gcell buckets, one atomic
    * commit. The stored side is never read, rewritten or shuffled.
    * Frozen centroids DRIFT as the corpus grows; that is a monitored
    * quantity ([[recallAuditIndexed]], qc3's gate), and a fallen floor
    * is the retrain signal ([[retrainIvfAdcIndexSharded]]). A crash
    * before the commit leaves probes on the exact pre-append state; a
    * retry commits under a fresh generation (spec-gated). */
  def appendIvfAdcIndexSharded(newVecs: DataFrame, idCol: String,
      vecCol: String, table: String): Unit =
      MergeTables.withTableLock(table) {
    val spark = newVecs.sparkSession
    requireNonNegIds(newVecs, idCol, "appendIvfAdcIndexSharded")
    val st = svState(spark, table)
    val gen = graft.sources.MapFiles.freshGen()
    svAppendRowsOnly(newVecs, idCol, vecCol, st, gen)
    svCommitGen(spark, st, gen)
  }

  /** Delete ids from the sharded index: tombstones carry their own
    * shard and that shard's active epoch (an id's rows live in exactly
    * one shard; a retrain retires the shard's tombstones by epoch).
    * The single append IS the commit: present means deleted, absent
    * means live; re-deleting or deleting absent ids is idempotent. */
  def deleteIvfVecsSharded(spark: SparkSession, table: String,
      ids: DataFrame, idCol: String): Unit =
      MergeTables.withTableLock(table) {
    requireNonNegIds(ids, idCol, "deleteIvfVecsSharded")
    val st = svState(spark, table)
    val em = svEpochMap(st)
    MergeTables.landTombstones(
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .withColumn("shard", pmod(col("id"), lit(st.nShards.toLong))
          .cast("int"))
        .withColumn("epoch", element_at(em, col("shard")))
        .select("shard", "id", "epoch"),
      st.dataT)
  }

  /** The per-batch body of the streaming append, exposed for the
    * replay spec: the batch append under its commit key unless
    * `table_sv_g` already holds it ([[MergeTables.landOnce]]). The
    * commit is ONE file covering every shard, so replay detection is
    * whole-batch. */
  private[graft] def streamAppendAdcBatchSharded(batch: DataFrame,
      batchId: Long, idCol: String, vecCol: String, table: String,
      lineage: Long = 0L): Unit = {
    val spark = batch.sparkSession
    // resolved at its first use, the key-table read under the lock
    lazy val st = svState(spark, table)
    MergeTables.landOnce(spark, table, st.dataT + "_g", lineage,
        batchId) { key =>
      val gen = graft.sources.MapFiles.freshGen()
      svAppendRowsOnly(batch, idCol, vecCol, st, gen)
      svCommitGen(spark, st, gen, key)
    }
  }

  /** [[appendIvfAdcIndexSharded]] with the NEW VECTORS ARRIVING AS A
    * STREAM (qe1, qg2): K streamed micro-batches == one one-shot
    * append == a rebuild under the same quantizers (spec-gated). The
    * one keyed-stream loop ([[MergeTables.startKeyedStream]]) with
    * `table_sv_g` as its key table; returns the started query, the
    * caller owns the trigger cadence. A reshard folds the marks into
    * the new generation's mark table and REFUSES IN CODE while the
    * loop's lease is live (stop the query, reshard, restart; the
    * carried marks make the restart replay-exact). `maxGen` wires the
    * unattended in-loop compaction (qfn's discipline — replay marks
    * carried). */
  def startStreamAppendIvfAdcIndexSharded(vecStream: DataFrame,
      idCol: String, vecCol: String, table: String,
      maxGen: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vecStream.sparkSession
    val st = svState(spark, table)
    MergeTables.startKeyedStream(vecStream, Seq(st.dataT + "_g")) {
      (batch, batchId, lineage) =>
        streamAppendAdcBatchSharded(batch, batchId, idCol, vecCol, table,
          lineage)
        maxGen.foreach(mg => compactIvfAdcIndexSharded(spark, table, mg))
    }
  }

  /** Rewrite the sharded index's file generations into ONE, physically
    * removing tombstoned vectors and retired/orphan epochs' rows — the
    * dense-tier compaction on the one-table layout. Every shard's
    * quantizer stays frozen; each shard's rows land back under ITS
    * active epoch (gen 0, which is committed in every reachable
    * state). One whole-layout rewrite replaces the per-shard layout's
    * N table rewrites. Replay marks carried first; crash exposure is
    * the same two-catalog-op DROP/RENAME window, healed on next touch.
    *
    * With `maxGen > 0` it compacts only once more than `maxGen`
    * generations have committed (distinct `gen` of `table_sv_g`) — the
    * auto-compaction policy of the sharded tier, safe inside a live
    * streaming lineage ([[MergeTables.compactIfOver]]). Returns true iff
    * it compacted. */
  def compactIvfAdcIndexSharded(spark: SparkSession, table: String,
      maxGen: Int = 0): Boolean = MergeTables.withTableLock(table) {
    val st = svState(spark, table)
    val dataT = st.dataT
    MergeTables.compactIfOver(spark, table, dataT + "_g", maxGen) {
      for (t <- Seq(dataT, dataT + "_g", MergeTables.tombstoneTable(dataT),
             dataT + "_c")
           if spark.catalog.tableExists(t))
        spark.catalog.refreshTable(t)
      // replay marks carried BEFORE the generation reset clears the keys
      MergeTables.carryHwms(spark, dataT + "_g")
      val em = svEpochMap(st)
      // bucket-preserving read -> the bucketed swap plans exchange-free
      MergeTables.swapInKeyed(spark,
        svLiveRows(spark, st, bucketedRead = true)
          .select("gcell", "shard", "cell", "id", "qc", "scale")
          .withColumn("gen", lit(0L))
          .withColumn("epoch", element_at(em, col("shard"))),
        "gcell", dataT)
      import spark.implicits._
      MergeTables.swapInKeyed(spark,
        (0 until st.nShards).map(s => (s, 0L, -1L, st.epochs(s)))
          .toDF("shard", "gen", "batch_key", "epoch"),
        "gen", dataT + "_g")
      MergeTables.dropTombstones(spark, dataT)
      // centroid GC: retired or orphan epochs' centroids leave with the
      // rewrite — swap-written through the healed shadow protocol
      spark.catalog.refreshTable(dataT + "_c")
      if (spark.table(dataT + "_c").select("shard", "epoch").distinct()
          .count() > st.nShards)
        MergeTables.swapInKeyed(spark,
          atActiveEpochs(st)(spark.table(dataT + "_c")).localCheckpoint(),
          "cell", dataT + "_c")
      invalidateSvCaches(dataT)
    }
  }

  /** RETRAIN ONE SHARD's quantizer — the per-shard maintenance unit
    * (a drift gate fires per shard; the whole-index loop below is just
    * this over every shard). ATOMICITY (r16 verdict item 2 — a
    * multi-table swap a crash could leave unhealable): everything new
    * lands INERT first, keyed by shard: the attempt epoch allocates
    * past the shard's centroid max (a crashed attempt's orphans are never
    * adopted), the shard's live vectors re-pack against the new
    * quantizer as (gen 0, attempt) — INERT until the commit — and the
    * commit is one `_g` swap replacing ONLY this shard's generation
    * rows (other shards' rows, keys included, pass through). The
    * shard's tombstones are consumed by the survivor rule and retire
    * by epoch (physically reclaimed at the next compaction). Returns
    * the new quantizer. */
  def retrainIvfAdcShard(vecs: DataFrame, idCol: String,
      vecCol: String, table: String, shard: Int, dim: Int = 64,
      targetRecall: Double = 0.8): Array[Array[Double]] =
      MergeTables.withTableLock(table) {
    val spark = vecs.sparkSession
    requireNonNegIds(vecs, idCol, "retrainIvfAdcShard")
    val st = svState(spark, table)
    require(shard >= 0 && shard < st.nShards,
      s"shard $shard outside [0, ${st.nShards})")
    val dataT = st.dataT
    spark.catalog.refreshTable(dataT + "_c")
    val cMax = spark.table(dataT + "_c").filter(col("shard") === shard)
      .agg(max("epoch")).head()
    val attempt = 1L + math.max(st.epochs(shard),
      if (cMax.isNullAt(0)) -1L else cMax.getLong(0))
    val sub = vecs.filter(shardOf(idCol, st.nShards) === shard)
    val live = MergeTables.withoutTombstones(spark, dataT, sub, idCol,
      "id")(_.filter(col("shard") === shard &&
        col("epoch") === st.epochs(shard)))
    val (nlist, _) = ivfParams(math.max(1L, live.count()), targetRecall)
    val quantizer = trainCoarseQuantizer(
      trainingSample(live, idCol, vecCol, trainingCap(nlist)),
      vecCol, nlist, dim)
    // inert land 1: the attempt's centroids FIRST — they are also the
    // epoch allocation marker a retry must see
    graft.sources.MapFiles.append(
      svCentroidRows(spark, Seq(shard -> quantizer), attempt),
      dataT + "_c")
    // inert land 2: the shard's live vectors re-packed under (gen 0,
    // attempt) into the existing gcell buckets; only this shard's rows
    // reach the kernel, so every slot of the broadcast holds the new
    // quantizer
    val q = NearestCellsBc.quantizerOf(quantizer)
    val bcQ =
      spark.sparkContext.broadcast(ShardedQuant(Array.fill(st.nShards)(q)))
    try graft.sources.MapFiles.append(
      svPackedRows(live, idCol, vecCol, bcQ, st.nShards, gen = 0L,
        _ => lit(attempt)),
      dataT)
    finally bcQ.unpersist(false)
    // committed streamed keys appear on EVERY shard's rows, so this
    // shard's reset alone cannot lose replay detection — but fold the
    // marks anyway (belt and braces, and the nShards=1 case needs it)
    MergeTables.carryHwms(spark, dataT + "_g")
    // THE commit: one swap replacing this shard's generation rows
    import spark.implicits._
    val others = MergeTables.freshView(spark, dataT + "_g")
      .filter(col("shard") =!= shard)
      .select(col("shard").cast("int"), col("gen"), col("batch_key"),
        col("epoch"))
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    MergeTables.swapInKeyed(spark,
      (others :+ ((shard, 0L, -1L, attempt)))
        .toSeq.toDF("shard", "gen", "batch_key", "epoch"),
      "gen", dataT + "_g")
    spark.catalog.refreshTable(dataT)
    invalidateSvCaches(dataT)
    quantizer
  }

  /** RETRAIN (qe3) — the consumer of qc3's drift signal: every
    * shard's quantizer retrains from its own live rows
    * (occupancy-constant nlist from the shard's live count, the
    * caller's corpus minus the shard's tombstones), each shard under
    * its own epoch-flip commit ([[retrainIvfAdcShard]]). The retrained
    * probe state is BY CONSTRUCTION a fresh build over the live corpus
    * — same sample, same Lloyd loop, same packing — so qe3 gates it
    * against q99's oracle verbatim. */
  def retrainIvfAdcIndexSharded(vecs: DataFrame, idCol: String,
      vecCol: String, table: String, dim: Int = 64,
      targetRecall: Double = 0.8): Unit =
    (0 until readShardCount(vecs.sparkSession, table)).foreach(s =>
      retrainIvfAdcShard(vecs, idCol, vecCol, table, s, dim,
        targetRecall))

  /** RESHARD — the growth operation: when shards outgrow their
    * quantizers (or more write parallelism is needed), route the LIVE
    * corpus into a fresh `newShards`-shard layout under new per-shard
    * quantizers. Semantically reshard(S→S′) IS a fresh
    * [[writeIvfAdcIndexSharded]](S′) over the SURVIVORS — the caller's
    * corpus minus every shard's live tombstones — down to bit-equal
    * stored rows (spec-gated), the same contract qe3's retrain has to
    * a fresh build. What a fresh build would lose and reshard keeps:
    * (a) ATOMICITY — the new one-table layout lands INERT under the
    * next reshard-generation name (`table_r{g}_sv`, [[svDataTable]])
    * and ONE sidecar swap flips every probe/mutator to it; and (b)
    * REPLAY MARKS — the old generation's committed streaming keys fold
    * (max per lineage, floors kept) into the new generation's mark
    * table, so a checkpoint-resumed lineage re-delivering a committed
    * batch after the reshard is still refused exactly. REFUSES IN CODE
    * under a live streaming writer lease on the old generation's key
    * table (r19 verdict item 4 — a doc comment guarded this seam
    * before): stop the query, reshard, restart. Old-generation tables
    * are dropped post-commit — inert leftovers under a crash either
    * way. Reference analog: growing the partition count of a
    * partitioned MapFile output is a new job writing a new partitioned
    * set and swapping the readers' view
    * (mapred/MapFileOutputFormat.java:39,101-107). */
  def reshardIvfAdcIndex(vecs: DataFrame, idCol: String, vecCol: String,
      table: String, newShards: Int, dim: Int = 64,
      targetRecall: Double = 0.8, init: String = "first")
      : Unit = MergeTables.withTableLock(table) {
    require(newShards >= 1, s"newShards=$newShards")
    val spark = vecs.sparkSession
    val st = svState(spark, table)
    // r19 verdict item 4: the old generation's key table is rewritten
    // away below — refuse while a live streaming lineage holds it
    MergeTables.requireNoWriterLease(spark, st.dataT + "_g",
      "reshardIvfAdcIndex: a live streaming lineage holds this sharded " +
        "index — stop the query, reshard, then restart (the carried " +
        "replay marks make the restart replay-exact)")
    val g2 = st.rsgen + 1L
    // heal residue first: a previous reshard's crashed post-commit GC
    // (or a crashed attempt's half-built next generation) leaves inert
    // tables no reader resolves — swept here, under the lock
    dropStaleShardGens(spark, table, liveGen = st.rsgen)
    // survivors: the live corpus minus every shard's tombstones at
    // that shard's ACTIVE epoch (an id lives in exactly one shard, so
    // the union is the global delete set)
    val survivors = MergeTables.withoutTombstones(spark, st.dataT, vecs,
      idCol, "id")(atActiveEpochs(st))
    // inert land 1: the fresh one-table layout at the NEXT generation's
    // names — invisible to every reader until the sidecar flips
    val counts = shardCountsChecked(survivors, idCol, newShards,
      "reshardIvfAdcIndex")
    val dataT2 = svDataTable(table, g2)
    svBuildLayout(survivors, idCol, vecCol, dataT2, newShards, counts,
      dim, targetRecall, init, cents = Nil)
    // inert land 2: carry the replay marks — the old generation's live
    // stream keys and prior marks, folded per lineage (floor rows ride
    // along), into the new generation's mark table
    MergeTables.carryHwms(spark, st.dataT + "_g",
      into = Some(MergeTables.hwmTable(dataT2 + "_g")))
    // THE commit: one sidecar swap to (newShards, g2)
    import spark.implicits._
    MergeTables.swapInKeyed(spark,
      Seq((newShards, g2)).toDF("nshards", "rsgen"), "nshards",
      table + "_sh")
    invalidateSvCaches(st.dataT)
    // post-commit GC, inert either way: the retired generation's tables
    // and any swap shadows they left
    dropStaleShardGens(spark, table, liveGen = g2)
  }

  /** Recall audit of a PERSISTED ADC index (qc3's drift gate): the
    * stored-index probe ([[ivfAdcTopKIndexedSharded]] at
    * `targetRecall`'s fraction law, frozen centroids and all) against
    * the exact brute-force MIPS top-k over the same
    * corpus — SAME objective on both legs (the ADC tier ranks by dot,
    * so a cosine exact leg would fold objective mismatch into the
    * number; here recall isolates quantization + cell approximation +
    * centroid drift, the quantities an append degrades). Returns
    * (q_id, hits, recall) like [[recallAudit]]; overlay shape
    * identical — the approximate list broadcasts at sample × k rows. */
  def recallAuditIndexed(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, table: String,
      targetRecall: Double = 0.8): DataFrame =
    recallOfApprox(exactMipsTopK(vecs, queries, idCol, vecCol, k),
      ivfAdcTopKIndexedSharded(queries, idCol, vecCol, k, table,
        targetRecall), k)

  /** The audit's exact leg — brute-force MIPS top-k of `queries`
    * against the corpus, (q_id, nb_id) rows. One sampled-panel-sized
    * corpus pass; split out so [[tuneShardServing]] pays it ONCE across its
    * whole search instead of once per probed candidate. */
  private def exactMipsTopK(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val corpus = vecs.select(col(idCol).as("id"),
      col(vecCol).as("v"))
    val qs = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    broadcast(qs).crossJoin(corpus)
      .filter(col("q_id") =!= col("id"))
      .withColumn("d", dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("nb_id"))
  }

  /** Per-query recall of ANY approximate (q_id, nb_id) result against
    * a precomputed exact leg — shared by the flat and two-level
    * audits/tuners. */
  private def recallOfApprox(exact: DataFrame, approx: DataFrame,
      k: Int): DataFrame = {
    val hits = approx
      .select(col("q_id"), col("nb_id"), lit(1L).as("hit"))
    exact.join(broadcast(hits), Seq("q_id", "nb_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("q_id"), col("hits"),
        (col("hits") / lit(k.toDouble)).as("recall"))
  }

  /** A tuner audit leg materialized once: persisted and filled by one
    * job (the eager local checkpoint's job count), so every recall the
    * tune measures against it reads the same rows. The caller releases
    * it with `unpersist` once its audits are done (r18 verdict audit
    * note: monitoring-cadence temporaries should not keep panel × k
    * rows pinned in a long-lived serving driver) — a cached plan's
    * release, unlike a local checkpoint's, truncates no lineage and so
    * logs no warning. */
  private def pinned(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.foreachPartition((rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach(_ => ()))
    p
  }

  /** Doubling + binary search for the smallest dial value in [1, max]
    * whose measured recall meets `target`, with the plateau cutoff —
    * every dial of [[tuneShardServing]] (nprobe, gprobe, re-rank
    * depth). */
  private def tuneDial(max: Int, target: Double, minGain: Double)(
      recallAt: Int => Double): (Int, Double) = {
    var lo = 1
    var hi = 1
    var rHi = recallAt(1)
    if (rHi >= target) return (1, rHi)
    // the plateau cutoff waits for TWO consecutive dry doublings: a
    // single sub-minGain (or negative — recall is non-monotone up to
    // quantization ties) step can precede large gains, e.g. when the
    // first extra cells land in the same wrong cluster; one more
    // doubling distinguishes a flat spot from the ceiling at the cost
    // of at most 4x-past-the-knee audit candidates
    var dry = 0
    while (rHi < target && hi < max) {
      val prev = rHi
      lo = hi
      hi = math.min(max, hi * 2)
      rHi = recallAt(hi)
      dry = if (rHi - prev < minGain) dry + 1 else 0
      if (rHi < target && dry >= 2)
        return (hi, rHi) // ceiling reached — this dial is not the bottleneck
    }
    if (rHi < target) return (max, rHi) // bounded by the other dials
    // recall(lo) < target <= recall(hi)
    while (hi - lo > 1) {
      val mid = lo + (hi - lo) / 2
      val r = recallAt(mid)
      if (r >= target) { hi = mid; rHi = r } else lo = mid
    }
    (hi, rHi)
  }

  /** The ONE served-probe sink loop (BM25 qb4, ADC qa6/qg4, hybrid
    * qc4): initialize `sinkDir` with a ZERO-ROW parquet of the probe's
    * schema, then append `probe(batch)` per micro-batch. The init makes
    * reruns replace rather than accumulate and an empty stream read
    * back well-typed; it is schema-only (r21) — analysis of the probe
    * over an empty frame of the stream's schema delivers the schema
    * without executing the plan (executing it paid optimizer + codegen
    * + a real scan/broadcast job + commit per run, ~0.3 s on the qb4
    * shape). Returns the started query. */
  private[pipeline] def startProbeSink(stream: DataFrame, sinkDir: String)
      (probe: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    def emptyOf(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    emptyOf(probe(emptyOf(stream.schema)).schema)
      .write.mode("overwrite").parquet(sinkDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        probe(batch).write.mode("append").parquet(sinkDir)
      }
      .start()
  }

  private def memoBc[T: scala.reflect.ClassTag](
      memo: java.util.concurrent.ConcurrentHashMap[
        String, (String, Broadcast[T])],
      spark: SparkSession, table: String, key: String)(make: => T)
      : Broadcast[T] =
    memo.compute(table, (_, prev) =>
      if (prev != null && prev._1 == key) prev
      else {
        if (prev != null) prev._2.unpersist(false)
        (key, spark.sparkContext.broadcast(make))
      })._2

  /** Two-stage quantized retrieval (qa1) — the composition
    * [[Quantize]]'s Scaladoc promises, closed: [[ivfAdcTopK]] generates
    * the per-query top-`depth` candidates over PACKED INT8 CODES (cheap,
    * integer-exact, 64-byte shuffle rows), then ONLY those survivors —
    * `depth` rows per query, never the corpus — join back to the full
    * float vectors for an exact-cosine re-rank to top-`k`. This is the
    * standard ADC serving recipe: quantized candidate generation at
    * corpus scale, full-precision scoring at candidate scale.
    *
    * Scale: the CORPUS float vectors never enter an exchange — in both
    * re-rank joins the corpus side is the STREAMED side, scored in its
    * own scan, while the survivor-derived side is broadcast
    * (plan-asserted: no shuffle carries a float array, no broadcast
    * carries the corpus `v`/`nrm`). The only float payload that moves is
    * the query vectors riding the second broadcast at candidate scale
    * (`n_queries × depth` rows — a serving batch, not the corpus).
    * Without the hints Spark broadcasts the corpus vector table instead
    * (cheap at bench scale, a corpus-sized vector movement at 100 TB) —
    * the r10 regression this shape fixes. The re-rank itself is
    * [[rankTopK]]'s grouped partial collect over depth-bounded groups.
    * Output: (q_id, nb_id, rank, cos) — [[bruteForceTopK]]'s contract,
    * restricted to the quantized tier's candidates. */
  def ivfAdcRerank(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, depth: Int, nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
      cents: Array[Array[Double]] = null): DataFrame = {
    require(depth >= k, s"depth=$depth < k=$k")
    val survivors = ivfAdcTopK(vecs, idCol, vecCol, depth, nlist, nprobe,
      dim, cents).select(col("q_id"), col("nb_id"))
    val base = withNorm(vecs, idCol, vecCol)
    // id-only broadcast: each corpus partition tags its own rows that
    // serve as queries — qv/qn are produced IN the corpus scan
    val withQ = base.join(broadcast(survivors), col("id") === col("q_id"))
      .select(col("q_id"), col("nb_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    // candidate-scale broadcast (ids + query vectors): corpus v/nrm again
    // stay in their scan; only the depth-bounded query side moves
    val rescored = base.join(broadcast(withQ), col("id") === col("nb_id"))
      .select(col("q_id"), col("nb_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    rankTopK(rescored, k)
  }

  /** SemDeDup-style semantic deduplication: partition the corpus into
    * coarse k-means cells (the [[ivfTopK]] quantizer, occupancy-constant
    * `nlist` from [[ivfParams]]), then inside each cell drop every vector
    * that has a smaller-id neighbor with cosine >= `tau` — one pass of the
    * published cluster-then-prune recipe (Abbas et al., "SemDeDup", 2023),
    * with keep-lowest-id as the deterministic representative rule (a
    * transitive chain prunes to its earliest member, exactly like
    * [[Dedup.exact]]'s min-id winner).
    *
    * Returns one row per input vector: (vec_id, cell, kept) — integer/
    * boolean only, so the cross-engine gate never hashes a float. The
    * fp exposure is the q35c class (cell-argmin and threshold margins,
    * ~1e-1 data gaps vs ~1e-13 drift; tau must not sit on a data value).
    *
    * Scale: pairwise work is within-cell only — occupancy is held
    * constant by construction, so candidate pairs grow linearly with the
    * corpus, never quadratically. The dropped-id set re-joins id-only
    * (broadcast-sized at real dup rates); vectors cross the wire once,
    * keyed by cell. */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String, tau: Double,
      targetOccupancy: Int = defaultOccupancy, dim: Int = 64,
      iters: Int = defaultLloydIters): DataFrame = {
    val (nlist, _) = ivfParams(vecs.count(), targetOccupancy = targetOccupancy)
    val cents = trainCoarseQuantizer(
      trainingSample(vecs, idCol, vecCol, trainingCap(nlist)),
      vecCol, nlist, dim, iters)
    val assigned = withNorm(vecs, idCol, vecCol).withColumn("cell",
      NearestCellsSharded.assign(col("v"), lit(0),
        oneShardQuant(vecs.sparkSession, cents)))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(dot(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm")) >= tau)
      .select(col("b.id").as("vec_id")).distinct()
    assigned.select(col("id").as("vec_id"), col("cell"))
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("hit").isNull.as("kept"))
  }

  /** Embedding-space outlier audit (q92): flag, per coarse cell, the
    * `pctNum`% most centroid-distant members — the standard
    * embedding-space pruning step before training (mislabeled points,
    * encoder failures, and off-distribution scrapes sit far from every
    * cluster center). Reuses the [[semDedup]] cell geometry: quantizer
    * trained on the bounded sample, assignment map-side via broadcast
    * centroids.
    *
    * Cutoff is integer-exact both engines: a member is an outlier iff
    * its rank by (distance² desc, id) within the cell is ≤
    * `greatest(1, (cnt*pctNum + 99) div 100)` (ceiling of pctNum%, at
    * least one per cell). distance² = v·v − 2·v·c + c·c with each term a
    * sequential left fold over identical doubles in both engines (the
    * centroids are bit-equal since the ordered-fold oracle mean), so the
    * only cross-engine fp exposure is a distance near-tie between
    * distinct vectors — ~1e-1 margins on this data family, the same
    * accepted class as q35c's cos ordering.
    *
    * Scale: assignment and distance are one map-side projection over the
    * scan (centroid matrix broadcast); the only exchange carries
    * (vec_id, cell, d2) — 20 bytes/row, never the embedding — and the
    * window partitions are cell-sized (occupancy-constant ~32 rows), so
    * no partition grows with n. Returns (vec_id, cell, outlier). */
  def outlierAudit(vecs: DataFrame, idCol: String, vecCol: String,
      pctNum: Int = 5, targetOccupancy: Int = defaultOccupancy,
      dim: Int = 64, iters: Int = defaultLloydIters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pctNum >= 0 && pctNum <= 100, s"pctNum=$pctNum")
    val spark = vecs.sparkSession
    val (nlist, _) = ivfParams(vecs.count(), targetOccupancy = targetOccupancy)
    val cents = trainCoarseQuantizer(
      trainingSample(vecs, idCol, vecCol, trainingCap(nlist)),
      vecCol, nlist, dim, iters)
    // centroid lookup rides as a broadcast table (nlist rows); cn2 is the
    // same fold the oracle's cn CTE computes
    val centRows = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val centDf = spark.createDataFrame(centRows).toDF("cell", "cent")
    val assigned = vecs.select(col(idCol).as("vec_id"),
      col(vecCol).as("e"),
      NearestCellsSharded.assign(col(vecCol), lit(0),
        oneShardQuant(spark, cents)).as("cell"))
    val d2 = assigned.join(broadcast(centDf), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        (dot(col("e"), col("e")) - lit(2) * dot(col("e"), col("cent"))
          + dot(col("cent"), col("cent"))).as("d2"))
    val byCell = Window.partitionBy("cell")
    val byDist = byCell.orderBy(col("d2").desc, col("vec_id"))
    d2.select(col("vec_id"), col("cell"),
        row_number().over(byDist).cast("long").as("rk"),
        count(lit(1)).over(byCell).as("cnt"))
      .select(col("vec_id"), col("cell"),
        (col("rk") <= greatest(lit(1L),
          expr(s"(cnt * $pctNum + 99) div 100"))).as("outlier"))
  }

  /** (q_id, nb_id, rank, cos) top-k per query from a candidate frame —
    * a hash aggregation, not a window: window row_number must shuffle
    * and fully sort EVERY candidate pair by (q_id, cos); here candidates
    * group map-side (partial collect_list) and only the per-query lists
    * cross the wire, sorted per group (tens of items) instead of
    * globally. All codegen'd builtins — measured ~2× faster than the
    * typed-Aggregator equivalent on 1M candidates (encoder-free).
    * Candidates per query are bounded by nprobe × cell size; for an
    * unbounded candidate stream use [[graft.agg.TopKAggregator]] (q45),
    * whose partial buffers truncate to k map-side.
    * Ordering: cos desc, nb_id asc — deterministic tie-break. */
  private def rankTopK(candidates: DataFrame, k: Int): DataFrame =
    candidates
      // sort key: -cos ascending, with NaN cos (zero-norm vectors) mapped
      // to -Infinity so it ranks FIRST — matching window `ORDER BY cos
      // DESC`, where Spark treats NaN as greater than any double; the
      // original cos rides along as a payload field
      .groupBy("q_id").agg(slice(array_sort(collect_list(struct(
        when(isnan(col("cos")), lit(Double.NegativeInfinity))
          .otherwise(-col("cos")).as("nc"),
        col("nb_id"), col("cos")))), 1, k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "v")))
      .select(col("q_id"), col("v.nb_id").as("nb_id"),
        (col("pos") + 1).cast("int").as("rank"), col("v.cos").as("cos"))

  /** LSH-bucketed approximate top-k: candidates share the query's sign
    * bucket; exact cosine re-ranks within the bucket. Recall depends on
    * bucket granularity (`planes`); the shuffle is keyed on the bucket. */
  def lshTopK(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int = 4, dim: Int = 64): DataFrame = {
    val hp = hyperplanes(planes, dim)
    val bucketed = withNorm(vecs, idCol, vecCol)
      .withColumn("bucket", bucketOf(col("v"), hp))
    val candidates = bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("q_id"), col("b.id").as("nb_id"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cos"))
    rankTopK(candidates, k)
  }

  /** Cross-tier retrieval agreement — the audit overlay for hybrid
    * search (qa4's sibling: qa4 audits the dense tier's approximation
    * quality; this audits how much the lexical and dense legs AGREE,
    * the quantity that decides whether fusion adds value): per query,
    * the result-list sizes of each leg and their intersection. All
    * INTEGER outputs — set membership inherits each leg's own gated
    * ranking, and the counts themselves are exact on any engine.
    * Returns (q_id, n_a, n_b, n_both); queries absent from a leg count
    * 0 for it.
    *
    * Scale shape: inputs are top-k rank lists (queries × k rows), so
    * every join and aggregate here is rank-list-sized — nothing corpus-
    * scaled moves, as with [[rrfFuse]]. */
  def retrievalAgreement(legA: DataFrame, legB: DataFrame, qCol: String,
      idCol: String): DataFrame = {
    // ONE pass over each leg (r21): the na/nb/nBoth three-aggregate
    // form referenced each leg twice, and Spark plans no common-subtree
    // reuse — both retrieval legs EXECUTED twice (qb5's plan carried
    // 2x qb2's scans; zero ReusedExchange). Tag-and-union computes the
    // identical integers from a single execution of each leg: per
    // (q_id, doc_id), ca/cb are the legs' row counts, so sum(ca) is
    // leg A's row count per query, and sum(ca*cb) equals the inner
    // join's match count (for rank lists ca, cb are 0/1 and it is the
    // intersection size). Same rows, same schema, half the work.
    val a = legA.select(col(qCol).as("q_id"),
      col(idCol).cast("long").as("doc_id"),
      lit(1L).as("ca"), lit(0L).as("cb"))
    val b = legB.select(col(qCol).as("q_id"),
      col(idCol).cast("long").as("doc_id"),
      lit(0L).as("ca"), lit(1L).as("cb"))
    // NULL doc_id guard (ADVICE r21): the three-aggregate form's inner
    // join never matched NULL keys, so a NULL id in both legs counted
    // toward n_a/n_b but never n_both; groupBy treats NULLs as equal,
    // so the product term must exclude them explicitly.
    a.unionByName(b)
      .groupBy("q_id", "doc_id")
      .agg(sum("ca").as("ca"), sum("cb").as("cb"))
      .groupBy("q_id")
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
        sum(when(col("doc_id").isNotNull, col("ca") * col("cb"))
          .otherwise(lit(0L))).as("n_both"))
  }

  /** Candidate screening for a production retrieval stack (qc2): keep
    * only candidates that pass a DOC-LEVEL predicate (`allowed`, e.g. a
    * relational filter over a metadata table) and a PER-QUERY
    * verification pair set (`verified`, e.g. phrase-occurrence pairs
    * from [[graft.pipeline.TextAnalysis.phraseMatches]]), then re-rank
    * the survivors per query by their original leg rank — the
    * filter → candidate → verify shape that sits in front of fusion.
    *
    * Scale shape: the join direction is deliberate — `allowed` is
    * corpus-scale, so the query-scale candidate list BROADCASTS into
    * allowed's scan (whose predicate and column pruning push to
    * parquet; plan-asserted), never the reverse: per query batch the
    * cluster pays one pruned metadata scan, and nothing corpus-sized
    * shuffles or broadcasts. `verified` is candidate-scale by
    * construction and rides a second broadcast. The re-rank window
    * partitions by query over ≤k survivors each. */
  def screenCandidates(leg: DataFrame, qCol: String, idCol: String,
      rankCol: String, allowed: DataFrame, allowedIdCol: String,
      verified: DataFrame, vQCol: String, vIdCol: String): DataFrame =
    screenCandidatesTagged(Seq(leg), qCol, idCol, rankCol, allowed,
      allowedIdCol, verified, vQCol, vIdCol).drop("leg")

  /** [[screenCandidates]] over SEVERAL legs in ONE pass (r21): the
    * per-leg form made each leg's caller pay the `allowed` metadata
    * scan and the whole `verified` subplan ONCE PER LEG — Spark plans
    * no common-subtree reuse, so qc2's stack executed its phrase probe
    * twice (plan evidence: plans/r21/qc2_before vs _after). Tagging and
    * unioning the legs first screens them through a single scan +
    * semi-join; the re-rank window partitions by (q_id, leg), which on
    * disjoint leg tags equals each leg's own per-query window row for
    * row. Output adds the `leg` index column (the input Seq position). */
  def screenCandidatesTagged(legs: Seq[DataFrame], qCol: String,
      idCol: String, rankCol: String, allowed: DataFrame,
      allowedIdCol: String, verified: DataFrame, vQCol: String,
      vIdCol: String): DataFrame = {
    require(legs.nonEmpty, "screenCandidatesTagged: no legs")
    val tagged = legs.zipWithIndex.map { case (leg, i) =>
      leg.select(col(qCol).as("q_id"),
        col(idCol).cast("long").as("doc_id"),
        col(rankCol).as("orig_rank"), lit(i).as("leg"))
    }.reduce(_ unionByName _)
    val elig = allowed.select(col(allowedIdCol).cast("long").as("doc_id"))
    val pairs = verified.select(col(vQCol).as("q_id"),
      col(vIdCol).cast("long").as("doc_id"))
    elig.join(broadcast(tagged), Seq("doc_id"))
      .join(broadcast(pairs), Seq("q_id", "doc_id"), "left_semi")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id", "leg")
          .orderBy(col("orig_rank"))))
      .select("q_id", "doc_id", "rank", "leg")
  }

  /** Hybrid serving (qb7) with the QUERIES AS A STREAM (qc4) — the
    * full online retrieval twin: each micro-batch carries query rows
    * holding BOTH representations (q_id, query text, query vector);
    * the shared sink loop ([[startProbeSink]]) probes each batch
    * against the persisted postings index
    * ([[graft.pipeline.TextAnalysis.bm25TopKIndexed]]) and the
    * persisted ADC index ([[ivfAdcTopKIndexedSharded]]) — neither corpus is
    * re-scanned, both stored sides keep their gated bucketed-probe
    * shapes — and [[rrfFuse]] fuses the two rank lists. Per-batch
    * fusion is EXACT, not approximate: every ranking here (each leg's
    * top-k and the fused rank) is per-query, and a query's whole
    * candidate set lives in the micro-batch that carried it — so
    * stream == batch by construction, and qc4 shares qb7's oracle
    * verbatim (the q70s gate shape on the full hybrid stack). A
    * two-batch MemoryStream spec gates the equality. Returns the
    * started query; the caller drains it and reads the sink back. */
  def startStreamHybridTopK(queries: DataFrame, qIdCol: String,
      qTextCol: String, qVecCol: String, lexTable: String,
      adcTable: String, lexDepth: Int, denseDepth: Int,
      k: Int, sinkDir: String, c: Int = 60, k1: Double = 1.2,
      b: Double = 0.75)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startProbeSink(queries, sinkDir) { batch =>
      val lex = graft.pipeline.TextAnalysis.bm25TopKIndexed(
        batch.select(col(qIdCol), col(qTextCol)), qIdCol, qTextCol,
        lexTable, k = lexDepth, k1 = k1, b = b)
      // a query WITHOUT a vector (null qVecCol — e.g. an un-embedded
      // document) still serves its lexical leg; only the dense probe
      // skips it. The sf0.1 corpus exposed this: documents outnumber
      // embeddings, and an inner composition silently dropped every
      // lexical-only query — diverging from the batch tier (qb7),
      // whose legs are independent.
      val dense = ivfAdcTopKIndexedSharded(
          batch.filter(col(qVecCol).isNotNull)
            .select(col(qIdCol), col(qVecCol)), qIdCol, qVecCol,
          k = denseDepth, table = adcTable)
        .withColumnRenamed("nb_id", "doc_id")
      rrfFuse(Seq(lex, dense), "q_id", "doc_id", "rank", k = k, c = c)
    }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack/Clarke/Buettcher, SIGIR'09): each leg (a ranked list per
    * query, e.g. the BM25 lexical leg and a dense ANN leg) contributes
    * 1/(c + rank) per hit; candidates re-rank by the summed score. Rank-
    * based, so legs with incomparable score scales fuse without
    * normalization.
    *
    * Each leg must carry (qCol, idCol, rankCol). Returns
    * (q_id, doc_id, rank, rrf_u) with rank <= k, where
    * `rrf_u = floor(Σ 1/(c+rank) · 1e9)` — nano-units on the same
    * quantize-before-rank contract as [[TextAnalysis.bm25TopK]]. With
    * IEEE doubles the sum is bit-identical across engines for ≤2 legs
    * (two-term addition is exactly commutative), so for the common
    * lexical+dense pair the quantization is belt-and-braces, not load-
    * bearing.
    *
    * Scale shape: inputs are already top-k lists — queries × k rows per
    * leg, orders of magnitude below any corpus — so the union + grouped
    * sum shuffle is rank-list-sized, carries two longs and a double per
    * row, and never touches text or vectors; the per-query cut reuses
    * the bounded-state [[graft.agg.TopKAggregator]] partial-agg path. */
  def rrfFuse(legs: Seq[DataFrame], qCol: String, idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse: no legs")
    val norm = legs.map(_.select(col(qCol).as("q_id"),
      col(idCol).cast("long").as("doc_id"),
      col(rankCol).cast("double").as("rank_d")))
    rrfFuseUnioned(norm.reduce(_ unionByName _), k, c)
  }

  /** [[rrfFuse]] over an ALREADY-UNIONED rank frame (r21) — the fusion
    * tail for callers whose legs arrive pre-tagged in one frame
    * ([[screenCandidatesTagged]]), so the screened union is planned
    * once instead of once per leg. Row-for-row the same aggregation
    * rrfFuse runs on its internal union: contributions per (q_id,
    * doc_id) are ≤ #legs doubles whose sum is order-independent at two
    * terms, and the nano-unit quantization + TopK cut are shared. */
  def rrfFuseTagged(tagged: DataFrame, qCol: String, idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame =
    rrfFuseUnioned(tagged.select(col(qCol).as("q_id"),
      col(idCol).cast("long").as("doc_id"),
      col(rankCol).cast("double").as("rank_d")), k, c)

  private def rrfFuseUnioned(unioned: DataFrame, k: Int, c: Int)
      : DataFrame = {
    val su = unioned
      .select(col("q_id"), col("doc_id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank_d"))).as("contrib"))
      .groupBy("q_id", "doc_id").agg(sum("contrib").as("rrf"))
      .withColumn("rrf_u", floor(col("rrf") * 1e9).cast("long"))
    graft.agg.TopKAggregator.topKPerKey(su, "q_id", k,
        col("rrf_u").cast("double"), col("doc_id"))((rank, v, id) =>
      Seq(id.as("doc_id"), rank, v.cast("long").as("rrf_u")))
  }
}
