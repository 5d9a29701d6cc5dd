package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.{Similarity, TextAnalysis}

/** The `retrieval_serve` workload: read-only serving from the persisted
  * sharded IVF-ADC and BM25 tiers, on a corpus the generator makes from the
  * seed (documents over a Zipfian vocabulary, clustered 64-d unit vectors).
  *
  * Set-up builds both indexes once, persists the tuned per-shard dials
  * (`tuneShardDialsPersist`) and, under the serving conf
  * (`graft.adc.quantKeyTtlMs`), warms up with [[WarmRounds]] untimed
  * rounds. One op is one serving round: a seeded batch of query
  * vectors through the tuned sharded ADC probe, then a seeded batch of
  * query texts through the indexed BM25 probe, each collected.
  */
object Retrieval {
  val K = 10
  val Shards = 2
  /** Tuning target of the serving dials. */
  val TargetRecall = 0.8
  /** An ADC op fails when its batch's recall against the exact top-10
    * falls below this floor. */
  val RecallFloor = 0.7
  /** Untimed rounds before the first op, cycling through the batches: the
    * driver-side planning code warms up over the first dozen or so
    * rounds, and with two rounds of warm-up a run's op times still fell
    * by a quarter midway through its timed ops. */
  val WarmRounds = 5
  /** Timed rounds a run makes at least, so that its median and 90th
    * percentile rest on three samples even when a slow host stretches the
    * rounds past `--seconds`. */
  val MinRounds = 3

  /** Catalog tables holding the protocol sidecars of tables `prefix*`. */
  private def sidecars(r: Run, prefix: String): Seq[String] =
    r.spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(n => n.startsWith(prefix) &&
        Seq("_g", "_s", "_sh", "_serve").exists(n.endsWith)).sorted

  def serve(r: Run): Map[String, Any] = {
    import r._
    val docs = spark.read.parquet(s"$data/docs.parquet")
      .select("doc_id", "text")
    val vecs = spark.read.parquet(s"$data/vecs.parquet")
      .select("vec_id", "embedding")
    val qvecs = spark.read.parquet(s"$data/qvecs.parquet")
    val qtexts = spark.read.parquet(s"$data/qtexts.parquet")
    val tunePanel = spark.read.parquet(s"$data/tune.parquet")
    def idsByBatch(df: DataFrame): Map[Int, Seq[Long]] =
      df.select("batch", "q_id").collect().toSeq
        .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)) }
    val vecBatches = idsByBatch(qvecs)
    val textBatches = idsByBatch(qtexts)
    val nBatches = vecBatches.size
    def qvBatch(b: Int) = qvecs.filter(col("batch") === b)
      .select("q_id", "embedding")
    def qtBatch(b: Int) = qtexts.filter(col("batch") === b)
      .select("q_id", "qtext")
    def adcProbe(b: Int, adc: String) =
      Similarity.ivfAdcTopKIndexedShardedTuned(qvBatch(b), "q_id",
        "embedding", K, adc)
    def bm25Probe(b: Int, bm: String) =
      TextAnalysis.bm25TopKIndexed(qtBatch(b), "q_id", "qtext", bm, K)

    val (adc, bm) = ("serve_adc", "serve_bm25")
    val build = time {
      trace("pipeline.index_build") {
        Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding", adc,
          nShards = Shards)
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", bm)
      }
    }
    // oracles, outside set-up and the timed ops: the exact top-10 by
    // brute force on the driver (plain Scala, independent of the program's
    // kernels), and the non-indexed BM25 over the same corpus for every
    // query text. They run before the warm-up: between the warm-up and the
    // first op they left that op about 40% slower than the ones after it.
    val t0 = System.nanoTime()
    val exact = exactTopK(vecs, qvecs.select("q_id", "embedding"), K)
    val bmExpected = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      qtexts.select("q_id", "qtext"), "q_id", "qtext", K).collect()
      .groupBy(_.getAs[Long]("q_id")).map { case (q, rs) => q -> canon(rs) }
    val referenceS = (System.nanoTime() - t0) / 1e9

    val warmRounds = mutable.ArrayBuffer[Double]()
    val setupOnce = time {
      trace("pipeline.tune")(Similarity.tuneShardDialsPersist(tunePanel,
        "vec_id", "embedding", K, adc, TargetRecall))
      spark.conf.set("graft.adc.quantKeyTtlMs", "60000")
      // probes of each batch on each tier: the first probes in a JVM pay
      // class loading, code generation and JIT warm-up, and a batch's
      // first BM25 probe is slower than its later ones
      for (i <- 0 until WarmRounds; b = i % nBatches)
        warmRounds += time {
          adcProbe(b, adc).collect()
          bm25Probe(b, bm).collect()
        }
    }

    val rnd = new scala.util.Random(seed)
    var overlap, scored = 0L
    val batchRecall = mutable.ArrayBuffer[Double]()
    val sideRows = mutable.ArrayBuffer[Long]()

    def checkAdc(b: Int, rows: Array[Row]): Option[String] = {
      val got = rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nb_id")) }
      val hits = vecBatches(b).map(q =>
        got.get(q).fold(0)(_.count(exact(q).contains))).sum
      val recall = hits.toDouble / (K * vecBatches(b).size)
      overlap += hits
      scored += K * vecBatches(b).size
      batchRecall += recall
      vecBatches(b).collectFirst {
        case q if got.get(q).forall(ids => ids.distinct.length != K) =>
          s"adc batch $b: query $q has not $K distinct results"
      }.orElse(Option.when(recall < RecallFloor)(
        f"adc batch $b: recall@$K $recall%.3f against the exact " +
          f"top-$K is below the floor $RecallFloor%.2f"))
    }

    def checkBm25(b: Int, rows: Array[Row]): Option[String] = {
      val got = rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> canon(rs) }
      textBatches(b).map(q => (q, got.getOrElse(q, Nil),
          bmExpected.getOrElse(q, Nil))).collectFirst {
        case (q, g, e) if g != e =>
          s"bm25 batch $b: query $q differs from bm25TopK: got " +
            g.take(3).mkString(",") + " expected " + e.take(3).mkString(",")
      }
    }

    // one op = one serving round: a seeded batch through each tier, so
    // every op carries the same mix and the percentiles do not straddle
    // two tiers' latencies
    while (rec.ops.size < MinRounds || rec.timedSeconds < seconds) {
      val (bv, bt) = (rnd.nextInt(nBatches), rnd.nextInt(nBatches))
      rec.op("serve_round", "pipeline") {
        val a = trace("pipeline.adc_probe") {
          val df = trace("queries.construct")(adcProbe(bv, adc))
          trace("spark.action")(df.collect())
        }
        val t = trace("pipeline.bm25_probe") {
          val df = trace("queries.construct")(bm25Probe(bt, bm))
          trace("spark.action")(df.collect())
        }
        (a, t)
      } { case (a, t) =>
        // both checks run and both failures are named; recall_at_10
        // scores every ADC batch
        Seq(checkAdc(bv, a), checkBm25(bt, t)).flatten match {
          case Seq() => None
          case errs => Some(errs.mkString("; "))
        }
      }
      // traced runs read every sidecar of the served tables after each
      // op, outside it, to time SidecarRead on the live protocol state
      if (rec.tracer.enabled) {
        val tables = sidecars(r, adc) ++ sidecars(r, bm)
        sideRows += trace("sources.sidecar_read")(tables
          .map(t => graft.sources.SidecarRead.rows(spark, t).size).sum
          .toLong)
      }
    }
    spark.conf.unset("graft.adc.quantKeyTtlMs")
    Map("setup_reps_s" -> Seq(build), "setup_once_s" -> setupOnce,
      "warm_round_s" -> warmRounds,
      "recall_at_10" -> (if (scored == 0) null else overlap.toDouble / scored),
      "adc_batch_recall" -> batchRecall, "reference_s" -> referenceS,
      "sidecar_rows" -> sideRows)
  }

  /** A result list in a comparable form: (doc, rank, score) by rank. */
  private def canon(rs: Array[Row]): Seq[(Long, Int, Long)] =
    rs.map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("rank"),
      x.getAs[Long]("score_u"))).sortBy(_._2).toSeq

  /** q_id → ids of the exact top-k by inner product, ties by lower id. */
  private def exactTopK(vecs: DataFrame, queries: DataFrame, k: Int)
      : Map[Long, Set[Long]] = {
    def load(df: DataFrame) = df.collect().map(x =>
      (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    val corpus = load(vecs)
    load(queries).map { case (q, v) =>
      val scored = corpus.map { case (id, c) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * c(i); i += 1 }
        (-s, id)
      }
      q -> scored.sorted.take(k).map(_._2).toSet
    }.toMap
  }
}
