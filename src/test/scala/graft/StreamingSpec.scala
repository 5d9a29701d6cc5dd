package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String,
      value: Double): Event =
    Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
      user, typ, value, "{}")

  private val events = Seq(
    ev(1, 0, 1, "click", 1.0), ev(2, 1, 1, "click", 2.0),
    ev(3, 4, 2, "view", 3.0),  ev(4, 6, 2, "click", 4.0),
    ev(5, 40, 1, "view", 5.0))

  test("windowedCounts (batch): 5-minute tumbling windows per type") {
    val out = EventStreams.windowedCounts(events.toDF())
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val t = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    assert(out == Set(
      (t(0), "click", 2L, 3.0), (t(0), "view", 1L, 3.0),
      (t(5), "click", 1L, 4.0), (t(40), "view", 1L, 5.0)))
  }

  test("windowedCounts (streaming): same result through MemoryStream") {
    val ms = MemoryStream[Event](spark)
    ms.addData(events)
    val out = EventStreams.runToMemory(
        EventStreams.windowedCounts(ms.toDF()), "wc_test", OutputMode.Update())
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStreams.windowedCounts(events.toDF())
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(out == batch)
  }

  test("file-source stream over the real events parquet matches batch") {
    import org.apache.spark.sql.functions.{col, max}
    val d = "/root/testdata/sf0.001"
    val streamed = EventStreams.runToMemory(
      EventStreams.windowedCounts(EventStreams.readEventStream(spark, d)),
      "wc_file_test", OutputMode.Update())
    val batch = EventStreams.windowedCounts(Tables.events(spark, d))
    // update-mode sink may hold multiple versions per key; the final
    // version of every window must match batch exactly
    val latest = streamed.groupBy("window_start", "event_type")
      .agg(max(org.apache.spark.sql.functions.struct("cnt", "sum_value")).as("m"))
      .select(col("window_start"), col("event_type"),
        col("m.cnt"), col("m.sum_value"))
    assert(latest.count() == batch.count())
    assert(latest.exceptAll(batch).count() == 0)
  }

  test("sessionize: a 30-minute gap starts a new session") {
    val out = EventStreams.sessionize(events.toDF())
      .as[(Long, Timestamp, Long)].collect().toSet
    val t = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: events at :00,:01 then :40 (39-min gap) -> two sessions
    // user 2: events at :04,:06 -> one session
    assert(out == Set(
      (1L, t(0), 2L), (1L, t(40), 1L), (2L, t(4), 2L)))
  }

  test("watermark drops events later than the 10-minute bound") {
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.windowedCounts(ms.toDF())
      .writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: max event time 10:40 -> watermark advances to 10:30
      ms.addData(Seq(ev(1, 0, 1, "click", 1.0), ev(2, 40, 1, "click", 1.0)))
      q.processAllAvailable()
      // batch 2: an event 40 minutes behind the watermark — dropped —
      // and one inside the bound — kept
      ms.addData(Seq(
        Event(3, Timestamp.valueOf("2024-01-01 09:50:00"), 1, "late", 1.0, "{}"),
        ev(4, 35, 1, "kept", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val types = spark.table("late_test")
      .select("event_type").as[String].collect().toSet
    assert(!types.contains("late") && types.contains("kept"))
  }

  test("runningUserTotals accumulates per user (batch mode)") {
    val out = EventStreams.runningUserTotals(events.toDS())
      .collect().map(s => s.user_id -> ((s.n_events, s.total_value))).toMap
    assert(out(1L) == ((3L, 8.0)) && out(2L) == ((2L, 7.0)))
  }

  test("runningUserTotals maintains state across streaming micro-batches") {
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.runningUserTotals(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("rut_test")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(events.take(2)) // user 1: 2 events
      q.processAllAvailable()
      ms.addData(events.drop(4)) // user 1: 1 more event
      q.processAllAvailable()
    } finally q.stop()
    val snaps = spark.table("rut_test")
      .as[(Long, Long, Double)].collect().filter(_._1 == 1L)
    // second snapshot must include the first batch's state
    assert(snaps.map(_._2).max == 3L)
    assert(snaps.map(_._3).max == 8.0)
  }

  test("dedupStream drops in-stream duplicates across micro-batches") {
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.dedupStream(ms.toDF(), "10 minutes", "event_id")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(events.take(3))
      q.processAllAvailable()
      // event_id 2 again (same watermark window) + a fresh event
      ms.addData(Seq(ev(2, 2, 9, "dup", 9.9), ev(6, 7, 3, "click", 6.0)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_test").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 6L)) // the re-sent id 2 was dropped
    // batch mode: same contract over the whole input
    val batch = EventStreams.dedupStream(
      (events ++ Seq(ev(2, 2, 9, "dup", 9.9))).toDF(), "10 minutes",
      "event_id")
    assert(batch.count() == events.size)
  }

  test("fingerprint self-dedup within the watermark horizon keeps BOUNDED state") {
    import org.apache.spark.sql.functions._
    // the cleaning pipeline's stream-stream sibling: q70s dedups the
    // stream against a STATIC fingerprint index; here the stream dedups
    // against ITSELF within a watermark horizon
    // (dropDuplicatesWithinWatermark). The load-bearing assertion is the
    // state bound: fingerprints older than the horizon must EVICT as
    // event time advances, or a 100 TB/day stream accumulates every
    // fingerprint it has ever seen
    val ms = MemoryStream[(Long, Timestamp, String)](spark)
    def t(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val docs = ms.toDF().toDF("doc_id", "ts", "text")
      .withColumn("fp", md5(col("text")))
    val q = EventStreams.dedupStreamOn(docs, "ts", "10 minutes", "fp")
      .writeStream.format("memory").queryName("fp_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two distinct fingerprints + an in-horizon duplicate
      ms.addData(Seq((1L, t(0), "alpha"), (2L, t(1), "beta"),
        (3L, t(2), "alpha")))
      q.processAllAvailable()
      val s1 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(s1 == 2L, s"expected 2 live fingerprints, state holds $s1")
      // batch 2 jumps event time far past the horizon (watermark
      // advances to t(31) at its end); batch 3 then runs WITH that
      // watermark and must evict alpha/beta from the store
      ms.addData(Seq((4L, t(40), "gamma"), (5L, t(41), "delta")))
      q.processAllAvailable()
      ms.addData(Seq((6L, t(42), "epsilon")))
      q.processAllAvailable()
      val s2 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(s2 <= 3L,
        s"state grew unbounded ($s2 rows): expired fingerprints not evicted")
    } finally q.stop()
    // dedup semantics: only the in-horizon duplicate (doc 3) was dropped
    val ids = spark.table("fp_dedup").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 5L, 6L), ids)
  }

  test("enrich: stream-static join tags events with dimension data") {
    import org.apache.spark.sql.functions._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val ms = MemoryStream[Event](spark)
    ms.addData(events)
    val got = EventStreams.runToMemory(
      EventStreams.enrich(ms.toDF(), dim, "user_id")
        .select(col("event_id"), col("tier")),
      "enrich_test", OutputMode.Append())
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L) == Some("gold") && got(3L) == Some("basic"))
    assert(got.size == events.size)
  }

  test("multiSinkStream: one stream feeds two named parquet sinks") {
    import org.apache.spark.sql.functions._
    val tmp = tmpDir("msink")
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.multiSinkStream(ms.toDF(), Seq(
      ((b: org.apache.spark.sql.DataFrame) =>
        b.filter(col("event_type") === "click").select("event_id"),
        s"$tmp/clicks"),
      ((b: org.apache.spark.sql.DataFrame) =>
        b.select("event_id", "user_id"), s"$tmp/all")))
    try {
      ms.addData(events.take(3)); q.processAllAvailable()
      ms.addData(events.drop(3)); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$tmp/clicks").count() == 3) // 3 clicks
    assert(spark.read.parquet(s"$tmp/all").count() == events.size)
  }

  test("stream-stream join matches events within the time bound only") {
    val clicks = MemoryStream[Event](spark)
    val views = MemoryStream[Event](spark)
    val joined = EventStreams.joinStreamsWithin(
      clicks.toDF(), views.toDF(), "user_id", "ts", "10 minutes")
      .select("left_event_id", "right_event_id")
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: click at :00, views at :05 (in bound) and :40 (out);
      // user 2: view at :05 but no click — no match
      clicks.addData(Seq(ev(1, 0, 1, "click", 1.0)))
      views.addData(Seq(ev(10, 5, 1, "view", 1.0),
        ev(11, 40, 1, "view", 1.0), ev(12, 5, 2, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_test")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("left-outer stream-stream join emits the unmatched row after the " +
      "watermark closes its bound") {
    val clicks = MemoryStream[Event](spark)
    val views = MemoryStream[Event](spark)
    val joined = EventStreams.joinStreamsWithin(
      clicks.toDF(), views.toDF(), "user_id", "ts", "10 minutes",
      joinType = "left_outer")
      .select("left_event_id", "right_event_id")
    val q = joined.writeStream.format("memory").queryName("ssj_outer_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // click at :00 with no matching view; click at :02 with one
      clicks.addData(Seq(ev(1, 0, 1, "click", 1.0), ev(2, 2, 2, "click", 1.0)))
      views.addData(Seq(ev(10, 5, 2, "view", 1.0)))
      q.processAllAvailable()
      // push BOTH watermarks past :00 + 10 min so the join can prove no
      // view for user 1 will ever arrive — the null-padded row finalizes
      clicks.addData(Seq(ev(3, 50, 9, "click", 1.0)))
      views.addData(Seq(ev(11, 50, 9, "view", 1.0)))
      q.processAllAvailable()
      // eviction rows may emit in the no-data micro-batch AFTER the one
      // that advanced the watermark; processAllAvailable does not wait
      // for it — poll briefly instead of asserting a racing snapshot
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def sunk() = spark.table("ssj_outer_test")
        .as[(Long, Option[Long])].collect().toSet
      while (!sunk().contains((1L, None)) && System.nanoTime() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("ssj_outer_test")
      .as[(Long, Option[Long])].collect().toSet
    assert(got.contains((2L, Some(10L))), got)   // matched pair
    assert(got.contains((1L, None)), got)        // finalized unmatched
  }

  // --- streaming ingest-dedup vs the persisted minhash index ---------

  /** Shared fixture: index the first 400 docs, stream the rest. */
  private def withMinhashIndex(table: String)(
      body: (org.apache.spark.sql.DataFrame, Seq[(Long, String)], Int, Int) => Unit): Unit = {
    import graft.pipeline.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val corpus = docs.filter(col("doc_id") < 400)
    val incr = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", table,
      n = 3, numHashes = h, bands = b)
    try body(corpus, incr, h, b)
    finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  private def withAdcIndex(table: String)(
      body: (org.apache.spark.sql.DataFrame, Seq[(Long, Array[Float])])
        => Unit): Unit = {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
      table)
    val rows = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    try body(vecs, rows)
    finally AdcKit.drop(table)
  }

  test("startStreamBm25TopK: a two-micro-batch query stream equals the one-shot indexed batch retrieval") {
    // the lexical twin of the qa6 gate: per-batch rank is exact because
    // a query's whole candidate set lives in the micro-batch that
    // carried it — split the query set across two batches and compare
    // to the batch probe over the same persisted postings index
    import graft.pipeline.TextAnalysis
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana"),
      (4L, "durian apple cherry"),
      (5L, "cherry cherry banana")
    ).toDF("doc_id", "text")
    val queries = Seq((10L, "apple banana"), (11L, "cherry"),
      (12L, "banana durian"), (13L, "apple cherry banana"))
    try {
      TextAnalysis.writeBm25Index(corpus, "doc_id", "text", "qb4_eq_idx")
      val sink = tmpDir("qb4_spec_sink")
      val ms = MemoryStream[(Long, String)](spark)
      val (first, second) = queries.partition(_._1 % 2 == 0)
      val q = TextAnalysis.startStreamBm25TopK(
        ms.toDF().toDF("q_id", "qtext"), "q_id", "qtext",
        "qb4_eq_idx", k = 3, sinkDir = sink)
      try {
        ms.addData(first)
        q.processAllAvailable() // micro-batch 1: even query ids
        ms.addData(second)
        q.processAllAvailable() // micro-batch 2: odd query ids
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the gate needs >= 2 non-empty micro-batches")
      } finally q.stop()
      val streamed = spark.read.parquet(sink)
        .as[(Long, Long, Int, Long)].collect().toSet
      val batch = TextAnalysis.bm25TopKIndexed(
          queries.toDF("q_id", "qtext"), "q_id", "qtext",
          "qb4_eq_idx", k = 3)
        .as[(Long, Long, Int, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous gate: no batch results")
      assert(streamed == batch,
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS qb4_eq_idx")
      spark.sql("DROP TABLE IF EXISTS qb4_eq_idx_s")
    }
  }

  test("startStreamAdcTopKSharded: a two-micro-batch query stream equals the one-shot indexed batch retrieval") {
    // the per-batch rank is EXACT because a query's candidates live in
    // the micro-batch that carried the query — gated here by splitting
    // the query set across two batches and comparing to the batch tier
    import graft.pipeline.Similarity
    withAdcIndex("qa6_eq_idx") { (vecs, rows) =>
      val sink = tmpDir("qa6_spec_sink")
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val (first, second) = rows.partition(_._1 % 2 == 0)
      val q = Similarity.startStreamAdcTopKSharded(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 3, table = "qa6_eq_idx", sinkDir = sink)
      try {
        ms.addData(first)
        q.processAllAvailable() // micro-batch 1: even ids only
        ms.addData(second)
        q.processAllAvailable() // micro-batch 2: odd ids
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the gate needs >= 2 non-empty micro-batches")
      } finally q.stop()
      val streamed = spark.read.parquet(sink)
        .as[(Long, Long, Int, Long)].collect().toSet
      val batch = Similarity.ivfAdcTopKIndexedSharded(vecs, "vec_id",
          "embedding", k = 3, table = "qa6_eq_idx")
        .as[(Long, Long, Int, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous gate: no batch results")
      assert(streamed == batch,
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    }
  }

  test("startStreamAdcTopKSharded: the stored ADC index joins bucketed with no shuffle in the micro-batch plan") {
    // q99's stored-side property on the STREAMING plan: with broadcast
    // off, only the probe side's co-partitioning repartition may
    // exchange (<=1), and the archive scans its bucketed layout
    import graft.pipeline.Similarity
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    withAdcIndex("qa6_plan_idx") { (_, rows) =>
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ms = MemoryStream[(Long, Array[Float])](spark)
      ms.addData(rows)
      val q = Similarity.svFracCandidates(
          ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          table = "qa6_plan_idx")
        .writeStream.format("memory").queryName("qa6_plan_test")
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(p.contains("Bucketed: true"), p.take(4000))
        val exchanges = p.linesIterator
          .count(_.contains("Exchange hashpartitioning"))
        assert(exchanges <= 1,
          s"stored index side re-shuffled ($exchanges exchanges):\n" +
            p.take(4000))
      } finally {
        q.stop()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    }
  }

  test("startStreamHybridTopK: a two-micro-batch query stream equals the one-shot hybrid fusion over both persisted indexes") {
    // the qc4 gate shape: queries carrying BOTH representations split
    // across two batches; per-batch probe-both-indexes + RRF must equal
    // the one-shot composition because every ranking is per-query
    import graft.pipeline.{Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{col, concat_ws, slice, split}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "qc4_eq_lidx")
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "qc4_eq_vidx")
      // queries: every 10th doc's 4-token prefix + its vector, PLUS one
      // vector-less (lexical-only) query — the sf0.1 regression class
      // where documents outnumber embeddings: it must keep its lexical
      // leg instead of being silently dropped
      val queries = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("qtext"))
        .join(vecs.select(col("vec_id").as("q_id"),
          col("embedding").as("qvec")), Seq("q_id"))
      val lexOnly: (Long, String, Array[Float]) =
        (999999L, docs.orderBy("doc_id").select("text")
          .as[String].head().split(" ").take(4).mkString(" "), null)
      val rows = (queries.as[(Long, String, Array[Float])].collect()
        :+ lexOnly).toSeq
      assert(rows.size >= 4, s"need >= 4 queries, got ${rows.size}")
      val sink = tmpDir("qc4_spec_sink")
      val ms = MemoryStream[(Long, String, Array[Float])](spark)
      val (first, second) = rows.partition(_._1 % 20 == 0)
      val q = Similarity.startStreamHybridTopK(
        ms.toDF().toDF("q_id", "qtext", "qvec"), "q_id", "qtext", "qvec",
        "qc4_eq_lidx", "qc4_eq_vidx", lexDepth = 5, denseDepth = 3,
        k = 3, sinkDir = sink)
      try {
        ms.addData(first)
        q.processAllAvailable()
        ms.addData(second)
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the gate needs >= 2 non-empty micro-batches")
      } finally q.stop()
      val streamed = spark.read.parquet(sink)
        .as[(Long, Long, Int, Long)].collect().toSet
      val qdf = rows.toDF("q_id", "qtext", "qvec")
      val lex = TextAnalysis.bm25TopKIndexed(
        qdf.select("q_id", "qtext"), "q_id", "qtext",
        "qc4_eq_lidx", k = 5)
      val dense = Similarity.ivfAdcTopKIndexedSharded(
          qdf.filter(col("qvec").isNotNull)
            .select(col("q_id"), col("qvec")), "q_id", "qvec",
          k = 3, table = "qc4_eq_vidx")
        .withColumnRenamed("nb_id", "doc_id")
      val batch = Similarity.rrfFuse(Seq(lex, dense), "q_id", "doc_id",
          "rank", k = 3)
        .as[(Long, Long, Int, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous gate: no batch results")
      // the lexical-only query must appear in BOTH — not be dropped
      assert(streamed.exists(_._1 == 999999L) && batch.exists(_._1 == 999999L),
        "vector-less query lost a leg")
      assert(streamed == batch,
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    } finally {
      for (t <- Seq("qc4_eq_lidx", "qc4_eq_lidx_s"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      AdcKit.drop("qc4_eq_vidx")
    }
  }

  test("served-probe sink loop: an empty query stream reads back zero rows with the one-shot probe's schema on BM25, ADC and hybrid") {
    // the sink loop initializes its sink from the probe's analyzed
    // schema, so a stream that never delivers a row must still read
    // back an empty frame typed like the batch probe it is gated against
    import graft.pipeline.{Similarity, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.streaming.StreamingQuery
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def drained(tag: String)(start: String => StreamingQuery): DataFrame = {
      val sink = tmpDir(tag)
      EventStreams.drain(start(sink))
      spark.read.parquet(sink)
    }
    withAdcIndex("sink_empty_vidx") { (vecs, _) =>
      try {
        TextAnalysis.writeBm25Index(Seq((1L, "apple banana"),
            (2L, "cherry apple")).toDF("doc_id", "text"), "doc_id", "text",
          "sink_empty_lidx")
        val qs = vecs.select(col("vec_id").as("q_id"),
          lit("apple").as("qtext"), col("embedding").as("qvec"))
        val lexBatch = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "sink_empty_lidx", k = 3)
        val adcBatch = Similarity.ivfAdcTopKIndexedSharded(vecs, "vec_id",
          "embedding", k = 3, table = "sink_empty_vidx")
        val hybridBatch = Similarity.rrfFuse(Seq(lexBatch,
            Similarity.ivfAdcTopKIndexedSharded(qs, "q_id", "qvec", k = 3,
              table = "sink_empty_vidx").withColumnRenamed("nb_id", "doc_id")),
          "q_id", "doc_id", "rank", k = 3)
        val lex = drained("sink_empty_lex")(TextAnalysis.startStreamBm25TopK(
          MemoryStream[(Long, String)](spark).toDF().toDF("q_id", "qtext"),
          "q_id", "qtext", "sink_empty_lidx", k = 3, _))
        val adc = drained("sink_empty_adc")(Similarity.startStreamAdcTopKSharded(
          MemoryStream[(Long, Array[Float])](spark).toDF()
            .toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3,
          table = "sink_empty_vidx", _))
        val hybrid = drained("sink_empty_hyb")(Similarity.startStreamHybridTopK(
          MemoryStream[(Long, String, Array[Float])](spark).toDF()
            .toDF("q_id", "qtext", "qvec"), "q_id", "qtext", "qvec",
          "sink_empty_lidx", "sink_empty_vidx", lexDepth = 3,
          denseDepth = 3, k = 3, _))
        for ((name, streamed, batch) <- Seq(("bm25", lex, lexBatch),
            ("adc", adc, adcBatch), ("hybrid", hybrid, hybridBatch))) {
          assert(streamed.collect().isEmpty, s"$name: rows from no queries")
          assert(batch.collect().nonEmpty, s"$name: vacuous batch probe")
          assert(fields(streamed) == fields(batch),
            s"$name: sink ${streamed.schema} vs batch ${batch.schema}")
        }
      } finally {
        for (t <- Seq("sink_empty_lidx", "sink_empty_lidx_s"))
          spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }

  test("startStreamAppendBm25Index: two streamed micro-batch appends equal the one-shot append and the rebuild") {
    // the qd6 contract: each micro-batch commits its own generation;
    // integer-additive scalar deltas and non-colliding postings make
    // batch count and order irrelevant, so the stream-grown index
    // must match a one-shot append AND a full rebuild — stored rows
    // (modulo gen tags), summed scalars, and probe rankings
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.functions.col
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry")).toDF("doc_id", "text")
    val batchRows = Seq(
      (3L, "banana banana banana"),
      (4L, "durian apple"),
      (5L, "cherry durian cherry"))
    val union = base.unionByName(batchRows.toDF("doc_id", "text"))
    val qs = Seq((9L, "apple banana"), (8L, "cherry durian"))
      .toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_str_idx")
      val ms = MemoryStream[(Long, String)](spark)
      val q = TextAnalysis.startStreamAppendBm25Index(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "bm25_str_idx")
      try {
        ms.addData(batchRows.take(1))
        q.processAllAvailable()
        ms.addData(batchRows.drop(1))
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the gate needs >= 2 non-empty micro-batches")
      } finally q.stop()
      // one-shot comparators
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_str_one")
      TextAnalysis.appendBm25Index(batchRows.toDF("doc_id", "text"),
        "doc_id", "text", "bm25_str_one")
      TextAnalysis.writeBm25Index(union, "doc_id", "text", "bm25_str_ref")
      def rows(t: String) = spark.table(t).drop("gen")
        .as[(String, Long, Int, Long, Seq[Int])].collect()
        .map(r => (r._1, r._2, r._3, r._4, r._5.toList))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(rows("bm25_str_idx").nonEmpty &&
        rows("bm25_str_idx") == rows("bm25_str_one") &&
        rows("bm25_str_idx") == rows("bm25_str_ref"))
      // the stream committed one generation PER micro-batch
      assert(spark.table("bm25_str_idx_s").count() >= 3,
        "expected build + >=2 streamed generations")
      def scalars(t: String) = spark.table(t + "_s")
        .agg(org.apache.spark.sql.functions.sum("n_docs"),
          org.apache.spark.sql.functions.sum("sum_dl"))
        .as[(Long, Long)].head()
      assert(scalars("bm25_str_idx") == scalars("bm25_str_ref"))
      def probe(t: String) = TextAnalysis.bm25TopKIndexed(qs, "q_id",
          "qtext", t, k = 3)
        .as[(Long, Long, Int, Long)].collect()
        .sortBy(r => (r._1, r._3)).toSeq
      val streamed = probe("bm25_str_idx")
      assert(streamed.nonEmpty && streamed == probe("bm25_str_ref"))
    } finally {
      for (t <- Seq("bm25_str_idx", "bm25_str_idx_s",
          "bm25_str_one", "bm25_str_one_s",
          "bm25_str_ref", "bm25_str_ref_s"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("countMinCounters: the streaming sketch state equals the batch sketch after two micro-batches") {
    // qa9's contract — the complete-mode aggregation's state IS the
    // bounded counter table, so after any number of micro-batches it
    // must equal the batch sketch over the union (no replay, no drift)
    import graft.pipeline.TextAnalysis
    val rows = Seq((1L, "a a b"), (2L, "b c d"),
      (3L, "a d e f"), (4L, "g a b c"))
    val ms = MemoryStream[(Long, String)](spark)
    val q = TextAnalysis.countMinCounters(
        ms.toDF().toDF("doc_id", "text"), "text", width = 64, depth = 3)
      .writeStream.format("memory").queryName("qa9_spec")
      .outputMode(OutputMode.Complete()).start()
    try {
      ms.addData(rows.take(2))
      q.processAllAvailable()
      ms.addData(rows.drop(2))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "the gate needs >= 2 non-empty micro-batches")
    } finally q.stop()
    val streamed = spark.table("qa9_spec")
      .as[(Long, Long, Long)].collect().toSet
    val batch = TextAnalysis.countMinCounters(
        rows.toDF("doc_id", "text"), "text", width = 64, depth = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
  }

  test("streamProbeCandidates: stream candidates equal the batch probe on the same increment") {
    import graft.pipeline.Dedup
    withMinhashIndex("spc_eq_idx") { (_, incr, h, b) =>
      val ms = MemoryStream[(Long, String)](spark)
      ms.addData(incr)
      val streamed = EventStreams.runToMemory(
          Dedup.streamProbeCandidates(ms.toDF().toDF("doc_id", "text"),
            "doc_id", "text", "spc_eq_idx", n = 3, numHashes = h, bands = b),
          "spc_eq_test", OutputMode.Append())
        .as[(Long, Long)].collect().toSet
      val batch = Dedup.probeCandidates(spark, "spc_eq_idx",
          Dedup.mapSideSignatures(incr.toDF("doc_id", "text"),
            "doc_id", "text", 3, h), b, h / b)
        .as[(Long, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous gate: no candidates at all")
      assert(streamed == batch,
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    }
  }

  test("streamProbeCandidates: the stored index joins bucketed with no shuffle in the micro-batch plan") {
    // the q86 stored-side property asserted on the STREAMING plan: with
    // broadcast off, the stream-static band join must consume the index's
    // bucketed layout — only the increment's band rows may shuffle (<=1
    // exchange), never the archive side
    import graft.pipeline.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    withMinhashIndex("spc_plan_idx") { (_, incr, h, b) =>
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ms = MemoryStream[(Long, String)](spark)
      ms.addData(incr)
      val q = Dedup.streamProbeCandidates(ms.toDF().toDF("doc_id", "text"),
          "doc_id", "text", "spc_plan_idx", n = 3, numHashes = h, bands = b)
        .writeStream.format("memory").queryName("spc_plan_test")
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(p.contains("Bucketed: true"), p.take(4000))
        val exchanges = p.linesIterator
          .count(_.contains("Exchange hashpartitioning"))
        assert(exchanges <= 1,
          s"stored index side re-shuffled ($exchanges exchanges):\n" +
            p.take(4000))
      } finally {
        q.stop()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    }
  }

  test("streaming foreachBatch verification equals the batch incremental screen") {
    // the full streaming ingest-dedup contract: each micro-batch hands
    // its increment to incrementalMinhashPairsIndexed (candidate
    // generation + exact Jaccard against the persisted index); the union
    // over micro-batches must equal one batch run over the whole
    // increment — pairs are (corpus, batch) cross pairs only, so
    // splitting the increment cannot create or lose a pair
    import graft.pipeline.Dedup
    withMinhashIndex("spc_fb_idx") { (corpus, incr, h, b) =>
      val got = scala.collection.mutable.Set[(Long, Long, Double)]()
      val ms = MemoryStream[(Long, String)](spark)
      val q = ms.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= Dedup.incrementalMinhashPairsIndexed(corpus, batch,
                "doc_id", "text", "spc_fb_idx", n = 3, threshold = 0.8,
                numHashes = h, bands = b)
              .as[(Long, Long, Double)].collect()
              .map { case (a, c, j) => (a, c, math.rint(j * 1e6) / 1e6) }
          }
          ()
        }
        .outputMode(OutputMode.Append()).start()
      try {
        ms.addData(incr.take(incr.size / 2)) // two micro-batches
        q.processAllAvailable()
        ms.addData(incr.drop(incr.size / 2))
        q.processAllAvailable()
      } finally q.stop()
      val batchRun = Dedup.incrementalMinhashPairsIndexed(corpus,
          incr.toDF("doc_id", "text"), "doc_id", "text", "spc_fb_idx",
          n = 3, threshold = 0.8, numHashes = h, bands = b)
        .as[(Long, Long, Double)].collect()
        .map { case (a, c, j) => (a, c, math.rint(j * 1e6) / 1e6) }.toSet
      assert(batchRun.nonEmpty, "vacuous gate: no verified pairs at all")
      assert(got.toSet == batchRun,
        s"stream-only=${got.toSet -- batchRun} batch-only=${batchRun -- got}")
    }
  }

  test("parquet file sink + checkpoint: restart resumes exactly-once") {
    // the durable pipeline shape: file source -> file sink with a real
    // checkpoint; a restart must pick up ONLY the new input files and the
    // sink must hold every row exactly once (no replay duplicates, no
    // gaps) — the streaming analog of FileOutputCommitter's guarantees
    val base = tmpDir("stream_e2e")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    def start() = spark.readStream.schema(sch).parquet(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start()

    (1L to 100L).toDF("id").coalesce(1).write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    (101L to 200L).toDF("id").coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val sunk = spark.read.parquet(out).as[Long].collect().sorted
    assert(sunk.toSeq == (1L to 200L), s"got ${sunk.length} rows")
  }

  test("startStreamAppendIvfAdcIndexSharded: micro-batches route per shard with one generation per (shard, batch); replay marks carry across a reshard") {
    // r18 verdict item 5 (+ item 4's mark carry): a corpus streaming
    // into a SHARDED index is the 100 TB default. Gates: (a) two
    // streamed micro-batches through the real query equal the one-shot
    // sharded batch append down to per-shard stored rows; (b) each
    // shard committed one generation per micro-batch (plus its build
    // gen); (c) a replayed committed (lineage, batch) is an exact
    // no-op per shard; (d) it STAYS a no-op after a reshard — the
    // folded replay marks carried into every new shard.
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.{col, hex}
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val build = corpus.filter(col("vec_id") < 150)
    val batch = corpus.filter(col("vec_id") >= 150)
    val batchRows = batch
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    def stored(t: String) = spark.table(t)
      .select(col("shard"), col("cell"), col("id"), hex(col("qc")),
        col("scale"))
      .as[(Int, Int, Long, String, Double)].collect().sorted.toSeq
    try {
      // (a) the real streaming query, two micro-batches
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "sstr_idx", nShards = 2, dim = 64)
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val q = Similarity.startStreamAppendIvfAdcIndexSharded(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        "sstr_idx")
      try {
        ms.addData(batchRows.take(batchRows.size / 2))
        q.processAllAvailable()
        ms.addData(batchRows.drop(batchRows.size / 2))
        q.processAllAvailable()
      } finally q.stop()
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "sstr_one", nShards = 2, dim = 64)
      Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
        "sstr_one")
      assert(stored("sstr_idx_sv") == stored("sstr_one_sv"),
        "stream-grown index diverged from the one-shot append")
      // (b) build gen + one gen per micro-batch, in EVERY shard (the
      // one-table commit lands one row per shard per batch)
      for (s <- 0 until 2)
        assert(spark.table("sstr_idx_sv_g")
            .filter(col("shard") === s).count() >= 3L,
          s"shard $s missing per-micro-batch generation rows")
      // (c) replay: an exact no-op per shard — first against the LIVE
      // committed key, then after a MID-LINEAGE per-shard compaction
      // (keys cleared, marks carried: qfn's discipline per shard)
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "sstr_rp", nShards = 2, dim = 64)
      Similarity.streamAppendAdcBatchSharded(batch, batchId = 0L,
        "vec_id", "embedding", "sstr_rp", lineage = 1L)
      val grown = stored("sstr_rp_sv")
      Similarity.streamAppendAdcBatchSharded(batch, batchId = 0L,
        "vec_id", "embedding", "sstr_rp", lineage = 1L)
      assert(stored("sstr_rp_sv") == grown,
        "replayed batch re-appended")
      Similarity.compactIvfAdcIndexSharded(spark, "sstr_rp")
      Similarity.streamAppendAdcBatchSharded(batch, batchId = 0L,
        "vec_id", "embedding", "sstr_rp", lineage = 1L)
      assert(stored("sstr_rp_sv") == grown,
        "replay refused only by live keys — the compaction lost the " +
          "carried mark")
      // (d) replay across a reshard: marks carried into every new
      // shard, so the same committed key is still refused — the
      // resharded index stays bit-equal to a fresh build over the
      // full corpus
      Similarity.reshardIvfAdcIndex(corpus, "vec_id", "embedding",
        "sstr_rp", newShards = 3, dim = 64)
      val resharded = stored("sstr_rp_r1_sv")
      Similarity.streamAppendAdcBatchSharded(batch, batchId = 0L,
        "vec_id", "embedding", "sstr_rp", lineage = 1L)
      assert(stored("sstr_rp_r1_sv") == resharded,
        "replayed committed batch re-appended into the resharded " +
          "layout — marks were not carried")
      // a NEW batch of the same lineage still lands post-reshard
      // (the carried marks refuse only committed keys, and routing
      // resolves the new layout)
      val extra = corpus.filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + 500L)
      Similarity.streamAppendAdcBatchSharded(extra, batchId = 1L,
        "vec_id", "embedding", "sstr_rp", lineage = 1L)
      assert(spark.table("sstr_rp_r1_sv")
          .filter(col("id") >= 500).count() == 30L,
        "a fresh post-reshard batch did not land in the new layout")
    } finally {
      for (t <- Seq("sstr_idx_sv", "sstr_one_sv", "sstr_rp_sv",
          "sstr_rp_r1_sv");
          sfx <- Seq("", "_c", "_g", "_g_hwm", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
      for (t <- Seq("sstr_idx_sh", "sstr_one_sh", "sstr_rp_sh"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("reshard refuses IN CODE under a live sharded streaming lineage; after stop() it proceeds and the restarted lineage is replay-exact") {
    // r19 verdict item 4: only a doc comment guarded the
    // reshard-vs-live-lineage seam — a reshard rewrites the key table
    // a live writer's lease protects. Gates: (a) reshard during a
    // started streaming append throws loudly; (b) after stop() the
    // SAME reshard proceeds; (c) a restarted lineage replaying its
    // committed batch is an exact no-op (the carried marks), and a
    // fresh batch lands in the new layout.
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.{col, hex}
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val build = corpus.filter(col("vec_id") < 200)
    val batch = corpus.filter(col("vec_id") >= 200)
    val batchRows = batch.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    def stored(t: String) = spark.table(t)
      .select(col("shard"), col("cell"), col("id"), hex(col("qc")))
      .as[(Int, Int, Long, String)].collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "rlg_idx", nShards = 2, dim = 64)
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val q = Similarity.startStreamAppendIvfAdcIndexSharded(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        "rlg_idx")
      try {
        ms.addData(batchRows)
        q.processAllAvailable()
        // (a) the live lease refuses the reshard
        val e = intercept[IllegalStateException] {
          Similarity.reshardIvfAdcIndex(corpus, "vec_id", "embedding",
            "rlg_idx", newShards = 3, dim = 64)
        }
        assert(e.getMessage.contains("writer lease"),
          s"unexpected refusal: ${e.getMessage}")
      } finally q.stop()
      // (b) after stop() the reshard proceeds
      Similarity.reshardIvfAdcIndex(corpus, "vec_id", "embedding",
        "rlg_idx", newShards = 3, dim = 64)
      val resharded = stored("rlg_idx_r1_sv")
      // (c) the stopped lineage's committed batch replays as a no-op
      // (lineage 1 was the started query's first allocation)
      Similarity.streamAppendAdcBatchSharded(batch, batchId = 0L,
        "vec_id", "embedding", "rlg_idx", lineage = 1L)
      assert(stored("rlg_idx_r1_sv") == resharded,
        "a committed batch replayed into the resharded layout")
      val extra = corpus.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 700L)
      Similarity.streamAppendAdcBatchSharded(extra, batchId = 1L,
        "vec_id", "embedding", "rlg_idx", lineage = 1L)
      assert(spark.table("rlg_idx_r1_sv").filter(col("id") >= 700L)
          .count() == 20L,
        "a fresh post-reshard batch did not land")
    } finally {
      for (t <- Seq("rlg_idx_sv", "rlg_idx_r1_sv");
          sfx <- Seq("", "_c", "_g", "_g_hwm", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
      spark.sql("DROP TABLE IF EXISTS rlg_idx_sh")
    }
  }

  test("startStreamAdcTopKSharded: two micro-batches of streamed queries equal the one-shot sharded probe on their union") {
    // qa6's per-batch-rank-is-exact argument on the FAN-OUT tier: each
    // shard's stream-static join emits candidates only for the current
    // batch's probe rows, and the union across shards stays within the
    // batch — so per-batch ranking IS global ranking, and the
    // stream-served results must be bit-equal to the one-shot sharded
    // probe over the union of both batches.
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val qs = corpus.filter(col("vec_id") % 20 === 0)
    val qRows = qs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val sink = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sqtest_${spark.sparkContext.applicationId}")
      .getAbsolutePath
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "sq_idx", nShards = 2, dim = 64)
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val q = Similarity.startStreamAdcTopKSharded(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 3, "sq_idx", sink)
      try {
        ms.addData(qRows.take(qRows.size / 2))
        q.processAllAvailable()
        ms.addData(qRows.drop(qRows.size / 2))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = rows(spark.read.parquet(sink))
      assert(streamed.nonEmpty &&
        streamed == rows(Similarity.ivfAdcTopKIndexedSharded(qs,
          "vec_id", "embedding", k = 3, "sq_idx")),
        "streamed sharded probe diverged from the one-shot fan-out")
    } finally {
      for (t <- Seq("sq_idx_sv");
          sfx <- Seq("", "_c", "_g", "_t"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
      spark.sql("DROP TABLE IF EXISTS sq_idx_sh")
    }
  }

  test("startStreamAppendIvfAdcIndexSharded: two streamed micro-batch appends equal the one-shot append and the frozen-quantizer rebuild") {
    // the qe1 contract (qd6's shape on the dense tier): each
    // micro-batch commits its own generation against the STORED frozen
    // centroids, so the stream-grown index must match a one-shot
    // append AND a one-shot build of the union against the same
    // quantizer — stored rows (modulo gen tags) and probe rankings
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.{col, hex}
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val build = corpus.filter(col("vec_id") < 150)
    val batch = corpus.filter(col("vec_id") >= 150)
    val batchRows = batch
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    try {
      val cents = Similarity.writeIvfAdcIndexSharded(build, "vec_id",
        "embedding", "adc_str_idx")
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val q = Similarity.startStreamAppendIvfAdcIndexSharded(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        "adc_str_idx")
      try {
        ms.addData(batchRows.take(batchRows.size / 2))
        q.processAllAvailable()
        ms.addData(batchRows.drop(batchRows.size / 2))
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the gate needs >= 2 non-empty micro-batches")
      } finally q.stop()
      // one-shot comparators against the SAME frozen quantizer
      Similarity.writeIvfAdcIndexSharded(build, "vec_id", "embedding",
        "adc_str_one", cents = cents)
      Similarity.appendIvfAdcIndexSharded(batch, "vec_id", "embedding",
        "adc_str_one")
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "adc_str_ref", cents = cents)
      val rows = AdcKit.storedRows _
      assert(rows("adc_str_idx").nonEmpty &&
        rows("adc_str_idx") == rows("adc_str_one") &&
        rows("adc_str_idx") == rows("adc_str_ref"))
      // the stream committed one generation PER micro-batch
      assert(spark.table("adc_str_idx_sv_g").count() >= 3,
        "expected build + >=2 streamed generations")
      def probe(t: String) =
        AdcKit.probe(corpus.filter(col("vec_id") % 50 === 0), t)
      val streamed = probe("adc_str_idx")
      assert(streamed.nonEmpty && streamed == probe("adc_str_ref"))
    } finally AdcKit.drop("adc_str_idx", "adc_str_one", "adc_str_ref")
  }

  test("startStreamAppendMinhashIndex: two streamed micro-batch appends equal the one-shot append, and a replayed batch changes no screen result") {
    // the qe2 contract: band rows are pure functions of the documents,
    // so the stream-grown archive is row-identical to a one-shot
    // append; and because this tier's probes dedup candidates and read
    // sizes distinct, a REPLAYED micro-batch (foreachBatch's
    // at-least-once failure mode) must leave the screen unchanged
    import graft.pipeline.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val base = docs.filter(col("doc_id") < 300)
    val grow = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val growRows = grow.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val archive = docs.filter(col("doc_id") < 400)
    val incr = docs.filter(col("doc_id") >= 400)
    def screen(t: String) = Dedup.incrementalMinhashPairsIndexed(
        archive, incr, "doc_id", "text", t, n = 3, threshold = 0.8,
        numHashes = h, bands = b)
      .as[(Long, Long, Double)].collect()
      .map { case (a, c, j) => (a, c, math.rint(j * 1e6) / 1e6) }
      .toSet
    try {
      Dedup.writeMinhashIndex(base, "doc_id", "text", "mh_str_idx",
        n = 3, numHashes = h, bands = b)
      val ms = MemoryStream[(Long, String)](spark)
      val q = Dedup.startStreamAppendMinhashIndex(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "mh_str_idx", n = 3, numHashes = h, bands = b)
      try {
        ms.addData(growRows.take(growRows.size / 2))
        q.processAllAvailable()
        ms.addData(growRows.drop(growRows.size / 2))
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the gate needs >= 2 non-empty micro-batches")
      } finally q.stop()
      Dedup.writeMinhashIndex(base, "doc_id", "text", "mh_str_one",
        n = 3, numHashes = h, bands = b)
      Dedup.appendMinhashIndex(grow, "doc_id", "text", "mh_str_one",
        n = 3, numHashes = h, bands = b)
      def rows(t: String) = spark.table(t)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(rows("mh_str_idx").nonEmpty &&
        rows("mh_str_idx") == rows("mh_str_one"))
      val ref = screen("mh_str_one")
      assert(ref.nonEmpty && screen("mh_str_idx") == ref)
      // replay half the stream (a crashed-and-retried micro-batch):
      // physical duplicates land, the screen result must not move
      Dedup.appendMinhashIndex(
        growRows.take(growRows.size / 2).toDF("doc_id", "text"),
        "doc_id", "text", "mh_str_idx", n = 3, numHashes = h, bands = b)
      assert(screen("mh_str_idx") == ref,
        "a replayed append changed the screen result")
    } finally {
      for (t <- Seq("mh_str_idx", "mh_str_one"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("startStreamAppendMinhashIndex holds the writer lease: a foreign holder refuses the start, naming the holder and the steal remedy") {
    // the minhash stream has no batch_key, so it cannot run the keyed
    // loop — but it is a streamed writer into a persisted table and
    // must hold the single-writer-process lease like every other one
    import graft.pipeline.{Dedup, MergeTables}
    withMinhashIndex("mh_lease_idx") { (_, _, h, b) =>
      def start() = Dedup.startStreamAppendMinhashIndex(
        MemoryStream[(Long, String)](spark).toDF().toDF("doc_id", "text"),
        "doc_id", "text", "mh_lease_idx", n = 3, numHashes = h, bands = b)
      try {
        Seq("someone-elses-process").toDF("tok").write
          .saveAsTable("mh_lease_idx_wlease")
        val ex = intercept[IllegalArgumentException](start().stop())
        assert(ex.getMessage.contains("someone-elses-process") &&
          ex.getMessage.contains("stealWriterLease"), ex.getMessage)
        // the operator override clears it; the start then holds its own
        MergeTables.stealWriterLease(spark, "mh_lease_idx")
        val q = start()
        try assert(MergeTables.leaseTokensAt(spark, "mh_lease_idx_wlease")
          .size == 1, "the started stream holds no lease")
        finally q.stop()
      } finally spark.sql("DROP TABLE IF EXISTS mh_lease_idx_wlease")
    }
  }

  test("streamed index appends are replay-idempotent AFTER the commit: a re-delivered committed micro-batch is an exact no-op on both protocol tiers") {
    // foreachBatch is at-least-once — a crash between a batch's commit
    // and the checkpoint offset write re-delivers the batch with the
    // SAME batchId. The deterministic per-batch commit key must turn
    // that replay into a no-op (stored rows, scalars/generations, and
    // probes all unchanged) on the BM25 and ADC tiers; the minhash
    // tier is naturally idempotent (gated in its own spec above).
    import graft.pipeline.{Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.col
    // BM25 tier
    val base = Seq((1L, "apple banana apple"), (2L, "apple cherry"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "banana durian"), (4L, "durian apple"))
      .toDF("doc_id", "text")
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_rp_idx")
      TextAnalysis.streamAppendBm25Batch(batch, 0L, "doc_id", "text",
        "bm25_rp_idx")
      def state() = (
        spark.table("bm25_rp_idx").count(),
        spark.table("bm25_rp_idx_s")
          .agg(org.apache.spark.sql.functions.sum("n_docs"),
            org.apache.spark.sql.functions.sum("sum_dl"))
          .as[(Long, Long)].head(),
        TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext", "bm25_rp_idx",
            k = 3)
          .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq)
      val afterFirst = state()
      assert(afterFirst._3.nonEmpty)
      // the replay: same batch, same batchId, key already committed
      TextAnalysis.streamAppendBm25Batch(batch, 0L, "doc_id", "text",
        "bm25_rp_idx")
      assert(state() == afterFirst,
        "a replayed committed micro-batch changed the BM25 index")
      // a NEW batchId still lands
      TextAnalysis.streamAppendBm25Batch(
        Seq((5L, "fig")).toDF("doc_id", "text"), 1L, "doc_id", "text",
        "bm25_rp_idx")
      assert(state()._2._1 == afterFirst._2._1 + 1)
    } finally {
      for (t <- Seq("bm25_rp_idx", "bm25_rp_idx_s"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    // ADC tier
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val vb = vecs.filter(col("vec_id") >= 100)
    try {
      Similarity.writeIvfAdcIndexSharded(vecs.filter(col("vec_id") < 100),
        "vec_id", "embedding", "adc_rp_idx")
      Similarity.streamAppendAdcBatchSharded(vb, 0L, "vec_id", "embedding",
        "adc_rp_idx")
      def astate() = (
        spark.table("adc_rp_idx_sv").count(),
        spark.table("adc_rp_idx_sv_g").count(),
        AdcKit.probe(vecs.filter(col("vec_id") % 50 === 0), "adc_rp_idx"))
      val afterFirst = astate()
      assert(afterFirst._3.nonEmpty)
      Similarity.streamAppendAdcBatchSharded(vb, 0L, "vec_id", "embedding",
        "adc_rp_idx")
      assert(astate() == afterFirst,
        "a replayed committed micro-batch changed the ADC index")
    } finally AdcKit.drop("adc_rp_idx")
  }

  test("index tiers: a MID-LINEAGE compaction carries replay marks — re-delivered committed batches are no-ops on BM25 and ADC") {
    // the qfh story on the generation-protocol tiers (r16): their
    // replay keys live in the scalar/generation commit tables that
    // compaction collapses; compactBm25Index/compactIvfAdcIndexSharded now
    // fold each lineage's high-water mark into the _hwm sidecar first,
    // so a committed batch re-delivered AFTER an in-lineage compaction
    // (the checkpoint-resume window) still skips exactly, a NEW
    // batchId still lands, and a fresh-process allocation sees the
    // compacted-away lineage.
    import graft.pipeline.{MergeTables, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.col
    // BM25 tier
    val base = Seq((1L, "apple banana apple"), (2L, "apple cherry"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "banana durian"), (4L, "durian apple"))
      .toDF("doc_id", "text")
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_oc_idx")
      TextAnalysis.streamAppendBm25Batch(batch, 0L, "doc_id", "text",
        "bm25_oc_idx", lineage = 3L)
      // 2 committed generations > maxGen=1 -> compacts mid-lineage
      assert(TextAnalysis.compactBm25Index(spark, "bm25_oc_idx",
        maxGen = 1))
      // live keys are gone; the mark answers for the committed batch
      assert(MergeTables.replayed(spark, "bm25_oc_idx_s",
        MergeTables.streamKey(3L, 0L)), "BM25 high-water mark lost")
      assert(!MergeTables.replayed(spark, "bm25_oc_idx_s",
        MergeTables.streamKey(3L, 1L)))
      def state() = (
        spark.table("bm25_oc_idx").count(),
        spark.table("bm25_oc_idx_s").count(),
        TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
            "bm25_oc_idx", k = 3)
          .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq)
      val afterCompact = state()
      assert(afterCompact._3.nonEmpty)
      // the resume-window replay: committed batch, key now a mark only
      TextAnalysis.streamAppendBm25Batch(batch, 0L, "doc_id", "text",
        "bm25_oc_idx", lineage = 3L)
      assert(state() == afterCompact,
        "a compacted-away committed batch re-appended on BM25")
      // a NEW batchId of the same lineage still lands
      TextAnalysis.streamAppendBm25Batch(
        Seq((5L, "fig")).toDF("doc_id", "text"), 1L, "doc_id", "text",
        "bm25_oc_idx", lineage = 3L)
      assert(state()._2 == afterCompact._2 + 1,
        "a fresh batch was wrongly skipped after compaction")
      // a fresh process's allocation must clear the marked lineage
      MergeTables.forgetLineages("bm25_oc_idx_s")
      assert(MergeTables.allocLineage(spark, "bm25_oc_idx_s") >= 4L)
    } finally {
      for (t <- Seq("bm25_oc_idx", "bm25_oc_idx_s", "bm25_oc_idx_s_hwm"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    // ADC tier
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val vb = vecs.filter(col("vec_id") >= 100)
    try {
      Similarity.writeIvfAdcIndexSharded(vecs.filter(col("vec_id") < 100),
        "vec_id", "embedding", "adc_oc_idx")
      Similarity.streamAppendAdcBatchSharded(vb, 0L, "vec_id", "embedding",
        "adc_oc_idx", lineage = 2L)
      assert(Similarity.compactIvfAdcIndexSharded(spark, "adc_oc_idx",
        maxGen = 1))
      assert(MergeTables.replayed(spark, "adc_oc_idx_sv_g",
        MergeTables.streamKey(2L, 0L)), "ADC high-water mark lost")
      def astate() = (
        AdcKit.liveRows("adc_oc_idx").count(),
        spark.table("adc_oc_idx_sv_g").count(),
        AdcKit.probe(vecs.filter(col("vec_id") % 50 === 0), "adc_oc_idx"))
      val afterCompact = astate()
      assert(afterCompact._3.nonEmpty)
      Similarity.streamAppendAdcBatchSharded(vb, 0L, "vec_id", "embedding",
        "adc_oc_idx", lineage = 2L)
      assert(astate() == afterCompact,
        "a compacted-away committed batch re-appended on ADC")
      MergeTables.forgetLineages("adc_oc_idx_sv_g")
      assert(MergeTables.allocLineage(spark, "adc_oc_idx_sv_g") >= 3L)
      // RETRAIN has the same exposure (its generation reset clears
      // keys) and the same fix: the retrained rows include every
      // committed streamed batch, so the replay must stay a no-op
      Similarity.retrainIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "adc_oc_idx")
      val afterRetrain = astate()
      assert(afterRetrain._1 == 200L,
        "retrain did not pack the full live corpus")
      Similarity.streamAppendAdcBatchSharded(vb, 0L, "vec_id", "embedding",
        "adc_oc_idx", lineage = 2L)
      assert(astate() == afterRetrain,
        "a committed batch re-appended after a retrain cleared its key")
    } finally AdcKit.drop("adc_oc_idx")
  }

  test("withBoundedStateShuffle: partitions derive from the state bound, scoped and restored, no-op at or below") {
    // r22 (r21 verdict item 3): bounded-state streams size their
    // state-store partition count from the operator's declared state
    // bound — never a local[32] constant — and the conf mutation is
    // scoped to the drain and invisible when the session already sits
    // at or below the derived count.
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    try {
      spark.conf.set(key, "32")
      var seen = ""
      EventStreams.withBoundedStateShuffle(spark, 1000L) {
        seen = spark.conf.get(key)
      }
      assert(seen == "1", s"1000 state rows should derive 1, saw $seen")
      assert(spark.conf.get(key) == "32", "conf not restored")
      // the bound scales the derivation: 100k rows -> 4 partitions
      EventStreams.withBoundedStateShuffle(spark, 100000L) {
        seen = spark.conf.get(key)
      }
      assert(seen == "4", s"100k state rows should derive 4, saw $seen")
      // clamped at the session's own corpus-scale setting
      EventStreams.withBoundedStateShuffle(spark, 10000000L) {
        seen = spark.conf.get(key)
      }
      assert(seen == "32", s"derived count must clamp at the session " +
        s"setting, saw $seen")
      // no-op (no mutation at all) when already at or below the bound
      spark.conf.set(key, "4")
      EventStreams.withBoundedStateShuffle(spark, 1000000L) {
        seen = spark.conf.get(key)
      }
      assert(seen == "4", "session at/below the derived count must not " +
        "be touched")
      // restore-on-throw: the conf survives a failing drain
      spark.conf.set(key, "32")
      intercept[RuntimeException] {
        EventStreams.withBoundedStateShuffle(spark, 1L)(
          throw new RuntimeException("boom"))
      }
      assert(spark.conf.get(key) == "32", "conf not restored on throw")
    } finally spark.conf.set(key, orig)
  }

  test("startStreamLogBucketQuantiles: the complete-mode state after two micro-batches equals the batch sketch report") {
    // the qe5 contract (qa9's discipline on the quantile tier): the
    // streaming aggregation's state is the bounded bucket table, counts
    // add across micro-batches, and the final report equals the batch
    // sketch over the union
    import graft.pipeline.Sketches
    import org.apache.spark.sql.functions.col
    val vals = (1 to 500).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val sink = tmpDir("qe5_spec_sink")
    val ms = MemoryStream[Long](spark)
    val q = Sketches.startStreamLogBucketQuantiles(
      ms.toDF().toDF("v"), col("v"), Seq(50, 90, 99), sink)
    try {
      ms.addData(vals.take(250))
      q.processAllAvailable()
      ms.addData(vals.drop(250))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "the gate needs >= 2 non-empty micro-batches")
    } finally q.stop()
    val streamed = spark.read.parquet(sink)
      .as[(Int, Long, Long, Long)].collect().sorted.toSeq
    val batch = Sketches.logBucketQuantiles(
        vals.toDF("v"), col("v"), Seq(50, 90, 99))
      .as[(Int, Long, Long, Long)].collect().sorted.toSeq
    assert(batch.nonEmpty && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamed sketch appends: K micro-batches == one-shot, and a re-delivered committed micro-batch is an exact no-op") {
    // the additive sketch is the one tier where a replay does not just
    // duplicate rows a probe screens out — it DOUBLE-COUNTS. The
    // per-batch key rides the generation's own rows (single-file atomic
    // append: detection and the counts it guards commit together), so
    // the replayed batch must no-op down to stored rows.
    import graft.pipeline.Sketches
    import org.apache.spark.sql.functions.col
    val vals = (1 to 600).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val (base, rest) = vals.splitAt(200)
    val (b1, b2) = rest.splitAt(200)
    try {
      Sketches.writeSketchTable(base.toDF("v"), col("v"), "sk_str_t")
      val ms = MemoryStream[Long](spark)
      val q = Sketches.startStreamAppendSketchTable(
        ms.toDF().toDF("v"), col("v"), "sk_str_t")
      try {
        ms.addData(b1)
        q.processAllAvailable()
        ms.addData(b2)
        q.processAllAvailable()
      } finally q.stop()
      def probe() = Sketches.quantilesFromSketchTable(
          spark, "sk_str_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probe() == oneShot,
        "streamed appends diverged from the one-shot sketch")
      def stored() = spark.table("sk_str_t")
        .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
      val afterStream = stored()
      // three generations: the build plus one per micro-batch, the
      // micro-batches under deterministic per-lineage streaming keys
      // (same lineage, consecutive batchIds)
      assert(afterStream.map(_._4).distinct.size == 3)
      val keys = afterStream.map(_._5).distinct.sorted
      assert(keys.head == -1L && keys.size == 3)
      val streamKeys = keys.filter(_ != -1L)
      assert(streamKeys.forall(
        _ >= graft.pipeline.Similarity.streamBatchKeyBase))
      assert(streamKeys(1) == streamKeys(0) + 1,
        "two micro-batches of one lineage must use consecutive keys")
      // the replay: batchId 1 re-delivered after its commit, UNDER THE
      // SAME LINEAGE (recovered from the stored keys — what a real
      // foreachBatch replay within the run would carry)
      val lin = (streamKeys(0) -
        graft.pipeline.Similarity.streamBatchKeyBase) >> 28
      Sketches.streamAppendSketchBatch(b2.toDF("v"), 1L, col("v"),
        "sk_str_t", lineage = lin)
      assert(stored() == afterStream,
        "a replayed committed micro-batch changed the sketch table")
      assert(probe() == oneShot)
      // a DIFFERENT lineage's batchId 1 is new data, not a replay —
      // the keys keep sequential writers from colliding
      Sketches.streamAppendSketchBatch(b2.toDF("v"), 1L, col("v"),
        "sk_str_t", lineage = if (lin == 7L) 8L else 7L)
      assert(stored().size > afterStream.size,
        "a distinct lineage's batch was wrongly skipped as a replay")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_str_t")
    }
  }

  test("two sequential streaming lineages against one uncompacted table both land — no cross-lineage key collision") {
    // micro-batch ids restart at 0 for every fresh checkpoint lineage;
    // without the per-start lineage id folded into the commit keys,
    // the second query's first batches would match the first lineage's
    // keys and be silently skipped as replays — data loss. Gated on an
    // additive MergeTables tier AND on the BM25 protocol tier.
    import graft.pipeline.{Sketches, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val vals = (1 to 600).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val (a, rest) = vals.splitAt(200)
    val (b, c) = rest.splitAt(200)
    try {
      Sketches.writeSketchTable(a.toDF("v"), col("v"), "sk_l2_t")
      for (batch <- Seq(b, c)) { // one full lineage per batch
        val ms = MemoryStream[Long](spark)
        val q = Sketches.startStreamAppendSketchTable(
          ms.toDF().toDF("v"), col("v"), "sk_l2_t")
        try { ms.addData(batch); q.processAllAvailable() }
        finally q.stop()
      }
      val probed = Sketches.quantilesFromSketchTable(
          spark, "sk_l2_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot,
        "the second lineage's batches were dropped")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_l2_t")
    }
    // BM25 protocol tier: same two-sequential-lineage shape
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "banana durian"), (4L, "durian apple"))
    val qs = Seq((9L, "apple banana")).toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(docs.take(2).toDF("doc_id", "text"),
        "doc_id", "text", "bm25_l2_idx")
      for (batch <- Seq(docs.slice(2, 3), docs.drop(3))) {
        val ms = MemoryStream[(Long, String)](spark)
        val q = TextAnalysis.startStreamAppendBm25Index(
          ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
          "bm25_l2_idx")
        try { ms.addData(batch); q.processAllAvailable() }
        finally q.stop()
      }
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
          "bm25_l2_idx", k = 4)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      val direct = TextAnalysis.bm25TopK(docs.toDF("doc_id", "text"),
          "doc_id", "text", qs, "q_id", "qtext", k = 4)
        .as[(Long, Long, Int, Long)].collect().sortBy(_._3).toSeq
      assert(direct.nonEmpty && probe == direct,
        "the second BM25 lineage's batches were dropped")
    } finally {
      for (t <- Seq("bm25_l2_idx", "bm25_l2_idx_s"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("two CONCURRENT streaming lineages on one table: deterministic distinct ids, no skips, no double-counts") {
    // the r14 advisory finding: freshLineage() drew RANDOM 20-bit ids,
    // so two concurrent streaming queries could collide (~2^-20/pair)
    // and the second query's early batches would be silently skipped
    // as replays. Allocation is now deterministic — max(committed,
    // handed-out) + 1 — so two queries started before either commits
    // still draw distinct consecutive ids, and a later allocation
    // continues from the COMMITTED keys (sequential-run determinism).
    import graft.pipeline.{MergeTables, Sketches, Similarity}
    import org.apache.spark.sql.functions.col
    val vals = (1 to 900).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val (base, rest) = vals.splitAt(300)
    val (s1, s2) = rest.splitAt(300)
    try {
      Sketches.writeSketchTable(base.toDF("v"), col("v"), "sk_cc_t")
      val ms1 = MemoryStream[Long](spark)
      val ms2 = MemoryStream[Long](spark)
      // both queries START (and so allocate) before either commits
      val q1 = Sketches.startStreamAppendSketchTable(
        ms1.toDF().toDF("v"), col("v"), "sk_cc_t")
      val q2 = Sketches.startStreamAppendSketchTable(
        ms2.toDF().toDF("v"), col("v"), "sk_cc_t")
      try {
        // both lineages live at once, batches interleaved (the
        // single-writer-PROCESS rule serializes only the file commits)
        ms1.addData(s1.take(150)); q1.processAllAvailable()
        ms2.addData(s2.take(150)); q2.processAllAvailable()
        ms1.addData(s1.drop(150)); q1.processAllAvailable()
        ms2.addData(s2.drop(150)); q2.processAllAvailable()
      } finally { q1.stop(); q2.stop() }
      // every micro-batch landed exactly once: 5 generations (build +
      // 2 per lineage) under 5 DISTINCT keys — a skipped batch would
      // miss a generation, a double-count would reuse a key's state
      val stored = spark.table("sk_cc_t")
        .select("gen", "batch_key").as[(Long, Long)].collect().toSeq
      assert(stored.map(_._1).distinct.size == 5,
        s"expected 5 generations, got ${stored.map(_._1).distinct.size}")
      val keys = stored.map(_._2).distinct.sorted
      assert(keys.size == 5 && keys.head == -1L)
      val lineages = keys.filter(_ != -1L)
        .map(k => (k - Similarity.streamBatchKeyBase) >> 28).distinct.sorted
      assert(lineages == Seq(1L, 2L),
        s"expected deterministic lineages 1 and 2, got $lineages")
      // and the merged probe equals the one-shot over the union — the
      // value-level no-skip/no-double-count gate
      val probed = Sketches.quantilesFromSketchTable(
          spark, "sk_cc_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot)
      // the next allocation continues deterministically past both
      assert(MergeTables.allocLineage(spark, "sk_cc_t") == 3L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_cc_t")
    }
  }

  test("crash-RESUME: a restarted query with the same checkpoint and persisted lineage continues exactly — no skip, no double-count") {
    // the scope the exactly-once claims are now documented with: a
    // re-RUN from scratch is a fresh lineage by design, but a caller
    // who persists a checkpointLocation AND its lineage id can resume
    // a dead query — Spark resumes the offsets/batchIds from the
    // checkpoint, and the resumed batchIds land under the original
    // lineage's keys, so an at-least-once re-delivery of the last
    // committed batch skips exactly and new batches continue the key
    // sequence.
    import graft.pipeline.{MergeTables, Sketches, Similarity}
    import org.apache.spark.sql.functions.col
    val vals = (1 to 900).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val (base, rest) = vals.splitAt(300)
    val (b1, b2) = rest.splitAt(300)
    val cp = SparkTest.tmpDir("resume_cp")
    val lineage = 42L
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      Sketches.logBucketCounts(df, col("v"))
    try {
      Sketches.writeSketchTable(base.toDF("v"), col("v"), "sk_rs_t")
      val ms = MemoryStream[Long](spark)
      val q1 = MergeTables.streamAppend(ms.toDF().toDF("v"),
        "sk_rs_t", checkpointLocation = Some(cp),
        lineage = Some(lineage))(stateOf)
      try { ms.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // the "crash": q1 is gone; a NEW query resumes from the same
      // checkpoint with the same persisted lineage id
      val q2 = MergeTables.streamAppend(ms.toDF().toDF("v"),
        "sk_rs_t", checkpointLocation = Some(cp),
        lineage = Some(lineage))(stateOf)
      try { ms.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val probed = Sketches.quantilesFromSketchTable(
          spark, "sk_rs_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot,
        "resumed lineage skipped or double-counted a batch")
      // keys: every streamed generation under lineage 42, batchIds
      // CONTINUING (0 then 1), never restarting at 0 twice
      val keys = spark.table("sk_rs_t").select("batch_key")
        .as[Long].collect().toSeq.distinct
        .filter(_ >= Similarity.streamBatchKeyBase).sorted
      assert(keys == Seq(MergeTables.streamKey(lineage, 0L),
        MergeTables.streamKey(lineage, 1L)),
        s"resume did not continue the lineage's key sequence: $keys")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_rs_t")
    }
  }

  test("self-maintaining card: a partial-crash replay completes exactly — committed tables skip, missing tables append") {
    // the qff loop's coordinator-free multi-table commit: one shared
    // (lineage, batchId) key, each table's single-file append
    // independently idempotent on it. Simulate the crash window — a
    // batch that landed in TWO of the four tables before dying — by
    // running two tiers' batch bodies directly, then re-deliver the
    // whole batch through maintainBatch: the two committed tables must
    // not change, the two missing ones must land, and every table's
    // final state equals the no-crash one-shot.
    import graft.pipeline.{DatasetCard, MergeTables, Samples, Sketches, TextAnalysis}
    import org.apache.spark.sql.functions._
    val docs = (0L until 40L).map(i =>
      (i, s"src${i % 3}", s"tok${i % 7} tok${i % 5} alpha beta"))
    val (seed, streamed) = docs.splitAt(20)
    val ts = Seq("card_len_t", "card_cm_t", "card_hll_t", "card_smp_t")
    def gens(t: String) = spark.table(t).select("gen").distinct().count()
    try {
      val sdf = seed.toDF("doc_id", "source", "text")
      Sketches.writeSketchTable(sdf, length(col("text")), ts(0),
        group = Some(col("source")))
      TextAnalysis.writeCountMinTable(sdf, "text", ts(1), width = 64,
        depth = 3, group = Some("source"))
      graft.agg.ValueAggregators.writeHllTable(
        sdf.select(col("source"), explode(
          expr("filter(split(text, ' '), x -> length(x) > 0)"))
          .as("tok")), col("source"), col("tok"), ts(2))
      Samples.writeSampleTable(sdf, "doc_id", 3, ts(3),
        group = Some("source"))
      val batch = streamed.toDF("doc_id", "source", "text")
      // the partial crash: sketch and count-min commit batchId 0 under
      // lineage 9, then the "driver dies"
      Sketches.streamAppendSketchBatch(batch, 0L, length(col("text")), ts(0),
        lineage = 9L, group = Some(col("source")))
      MergeTables.appendBatch(batch, 0L, ts(1), 9L)(
        TextAnalysis.countMinCounters(_, "text", 64, 3,
          group = Some("source"))
          .withColumn("w", lit(64)).withColumn("dep", lit(3)))
      assert(gens(ts(0)) == 2 && gens(ts(1)) == 2 &&
        gens(ts(2)) == 1 && gens(ts(3)) == 1)
      // the replay: the whole batch re-delivered under the same key
      DatasetCard.maintainBatch(batch, 0L, ts(0), ts(1), ts(2), ts(3),
        k = 3, width = 64, depth = 3, lineage = 9L)
      assert(ts.map(gens) == Seq(2L, 2L, 2L, 2L),
        "partial-crash replay double-landed or skipped a table")
      // value-level: the healed card equals the no-crash one-shot card
      val all = docs.toDF("doc_id", "source", "text")
      val lenProbe = Sketches.quantilesFromSketchTable(
        spark, ts(0), Seq(50, 99))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      val lenOne = Sketches.logBucketQuantiles(all, length(col("text")),
        Seq(50, 99), group = Some(col("source")))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(lenOne.nonEmpty && lenProbe == lenOne)
      val cmGrouped = MergeTables.mergedSum(spark, ts(1),
          Seq("g", "h", "b"), "c")
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
      val cmOne = TextAnalysis.countMinCounters(all, "text", 64, 3,
        group = Some("source"))
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
      assert(cmOne.nonEmpty && cmGrouped == cmOne)
      val hllProbe = graft.agg.ValueAggregators
        .hllEstimateFromTable(spark, ts(2))
        .as[(String, Long)].collect().sorted.toSeq
      val hllOne = graft.agg.ValueAggregators.portableHllEstimate(
          all.select(col("source"), explode(
            expr("filter(split(text, ' '), x -> length(x) > 0)"))
            .as("tok")), col("source"), col("tok"))
        .as[(String, Long)].collect().sorted.toSeq
      assert(hllOne.nonEmpty && hllProbe == hllOne)
      val smpProbe = Samples.sampleFromTable(spark, ts(3), 3)
        .as[(String, Long, Long)].collect().sorted.toSeq
      val smpOne = Samples.hashSampleTopK(all, "doc_id", 3,
        group = Some("source"))
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(smpOne.nonEmpty && smpProbe == smpOne)
    } finally {
      ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("grouped streamed appends (sketch + stratified sample): out-of-order micro-batches == one-shot, replays are no-ops") {
    // the grouped tiers' streaming paths (qfa's late-data story and
    // the stratified sample's): micro-batches interleaved ACROSS
    // groups must merge to the one-shot grouped state, and a
    // re-delivered committed batch must change nothing
    import graft.pipeline.{Samples, Sketches}
    import org.apache.spark.sql.functions.col
    val rows = (1 to 600).map(i =>
      (s"g${i % 3}", i.toLong, (i.toLong * 2654435761L) % 100000L + 1L))
    val (base, rest) = rows.splitAt(200)
    val (b1, b2) = rest.splitAt(200)
    try {
      // grouped sketch
      Sketches.writeSketchTable(base.toDF("g", "id", "v"), col("v"),
        "gsk_str_t", group = Some(col("g")))
      val ms = MemoryStream[(String, Long, Long)](spark)
      val q = Sketches.startStreamAppendSketchTable(
        ms.toDF().toDF("g", "id", "v"), col("v"), "gsk_str_t",
        group = Some(col("g")))
      try {
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
      } finally q.stop()
      def probe() = Sketches.quantilesFromSketchTable(
          spark, "gsk_str_t", Seq(50, 99))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
        rows.toDF("g", "id", "v"), col("v"), Seq(50, 99),
        group = Some(col("g")))
        .as[(String, Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probe() == oneShot)
      // replay under the run's own lineage, recovered from stored keys
      def linOf(t: String) = (spark.table(t)
        .agg(org.apache.spark.sql.functions.max("batch_key"))
        .head().getLong(0) -
        graft.pipeline.Similarity.streamBatchKeyBase) >> 28
      val stored = spark.table("gsk_str_t").count()
      Sketches.streamAppendSketchBatch(b2.toDF("g", "id", "v"), 1L, col("v"),
        "gsk_str_t", lineage = linOf("gsk_str_t"), group = Some(col("g")))
      assert(spark.table("gsk_str_t").count() == stored
        && probe() == oneShot,
        "a replayed committed micro-batch changed the grouped sketch")
      // stratified sample
      Samples.writeSampleTable(base.toDF("g", "doc_id", "v"), "doc_id", 5,
        "gsmp_str_t", group = Some("g"))
      val ms2 = MemoryStream[(String, Long, Long)](spark)
      val q2 = Samples.startStreamAppendSampleTable(
        ms2.toDF().toDF("g", "doc_id", "v"), "doc_id", 5, "gsmp_str_t",
        group = Some("g"))
      try {
        ms2.addData(b1); q2.processAllAvailable()
        ms2.addData(b2); q2.processAllAvailable()
      } finally q2.stop()
      def sprobe() = Samples.sampleFromTable(spark,
          "gsmp_str_t", 5)
        .as[(String, Long, Long)].collect().sorted.toSeq
      val sOneShot = Samples.hashSampleTopK(
        rows.toDF("g", "doc_id", "v"), "doc_id", 5, group = Some("g"))
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(sOneShot.nonEmpty && sprobe() == sOneShot)
      val sstored = spark.table("gsmp_str_t").count()
      Samples.streamAppendSampleBatch(b2.toDF("g", "doc_id", "v"), 1L,
        "doc_id", 5, "gsmp_str_t", lineage = linOf("gsmp_str_t"),
        group = Some("g"))
      assert(spark.table("gsmp_str_t").count() == sstored
        && sprobe() == sOneShot,
        "a replayed committed micro-batch changed the stratified sample")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gsk_str_t")
      spark.sql("DROP TABLE IF EXISTS gsmp_str_t")
    }
  }

  test("streamed count-min appends: K micro-batches == one-shot, and a re-delivered committed micro-batch is an exact no-op") {
    // qf4's streaming leg — the same additive-tier discipline as the
    // quantile sketch, on the heavy-hitter counters
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.functions.col
    val all = Seq(
      (0L, "a a a b b c"), (1L, "a b c d e"),
      (2L, "a a x y"), (3L, "d d e z"))
    val base = all.take(1)
    try {
      TextAnalysis.writeCountMinTable(base.toDF("doc_id", "text"),
        "text", "cm_str_t", width = 64, depth = 3)
      val ms = MemoryStream[(Long, String)](spark)
      val q = TextAnalysis.startStreamAppendCountMinTable(
        ms.toDF().toDF("doc_id", "text"), "text", "cm_str_t",
        width = 64, depth = 3)
      try {
        ms.addData(all.slice(1, 3))
        q.processAllAvailable()
        ms.addData(all.drop(3))
        q.processAllAvailable()
      } finally q.stop()
      def merged() = TextAnalysis.countMinFromTable(spark, "cm_str_t")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val direct = TextAnalysis.countMinCounters(
          all.toDF("doc_id", "text"), "text", width = 64, depth = 3)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(direct.nonEmpty && merged() == direct,
        "streamed counter appends diverged from the one-shot sketch")
      // stored rows now also carry the (w, dep) param-guard columns —
      // select the protocol columns explicitly
      def stored() = spark.table("cm_str_t")
        .select("h", "b", "c", "gen", "batch_key")
        .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
      val afterStream = stored()
      // the replay: batchId 0 re-delivered after its commit, under the
      // run's own lineage (recovered from the stored keys)
      val lin = (spark.table("cm_str_t")
        .agg(org.apache.spark.sql.functions.max("batch_key"))
        .head().getLong(0) -
        graft.pipeline.Similarity.streamBatchKeyBase) >> 28
      TextAnalysis.streamAppendCountMinBatch(
        all.slice(1, 3).toDF("doc_id", "text"), 0L, "text", "cm_str_t",
        width = 64, depth = 3, lineage = lin)
      assert(stored() == afterStream,
        "a replayed committed micro-batch changed the counter table")
      assert(merged() == direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cm_str_t")
    }
  }
}

class ValueAggregatorsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.agg.ValueAggregators

  test("histogramReport medians use counts[len/2], not interpolation") {
    // key "k": items a,a,a,b -> freq counts [1,3]; median = counts[1] = 3
    val df = Seq(("k", "a"), ("k", "a"), ("k", "a"), ("k", "b"))
      .toDF("key", "item")
    val r = ValueAggregators.histogramReport(df, col("key"), col("item"))
      .collect()(0)
    assert(r.getAs[Long]("n_items") == 2L)
    assert(r.getAs[Long]("median_cnt") == 3L)
    assert(r.getAs[Long]("min_cnt") == 1L && r.getAs[Long]("max_cnt") == 3L)
  }

  test("TopKAggregator keeps k best with deterministic tie-break") {
    val agg = new graft.agg.TopKAggregator(2)
    val items = Seq((5.0, 9L), (7.0, 3L), (5.0, 1L), (2.0, 4L), (7.0, 8L))
    val viaReduce = items.foldLeft(agg.zero)(agg.reduce)
    assert(viaReduce == Seq((7.0, 3L), (7.0, 8L)))
    // merge of split halves equals sequential reduce (combiner soundness)
    val (l, r) = items.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == viaReduce)
  }

  test("uniqValueCount is exact; approx variant is close") {
    val df = (1 to 100).map(i => ("g", i % 10)).toDF("g", "v")
    val exact = df.groupBy("g")
      .agg(ValueAggregators.uniqValueCount(col("v"))).collect()(0).getLong(1)
    val approx = df.groupBy("g")
      .agg(ValueAggregators.uniqValueCountApprox(col("v"))).collect()(0).getLong(1)
    assert(exact == 10L && math.abs(approx - 10L) <= 1)
  }

  test("ONLINE compaction: mid-lineage compaction carries replay keys as high-water marks; checkpoint-alone resume skips committed batches exactly") {
    // r15 verdict item 1: compaction used to clear a live lineage's
    // committed replay keys, so compaction was between-lineages
    // only. Now the rewrite folds each lineage's max committed batchId
    // into the table_hwm sidecar, and `replayed` answers from marks as
    // well as live keys — so (a) a compaction between two of a
    // lineage's batches loses no replay protection, (b) a
    // checkpoint-RESUMED query (checkpoint alone — the lineage id is
    // persisted beside it, r15 item 5) still skips what it committed,
    // and (c) a re-delivered compacted-away batchId is an exact no-op.
    import graft.pipeline.{MergeTables, Sketches, Similarity}
    import org.apache.spark.sql.functions.col
    val vals = (1 to 900).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val (base, rest) = vals.splitAt(300)
    val (b1, b2) = rest.splitAt(300)
    val cp = SparkTest.tmpDir("ocomp_cp")
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      Sketches.logBucketCounts(df, col("v"))
    try {
      Sketches.writeSketchTable(base.toDF("v"), col("v"), "sk_oc_t")
      val ms = MemoryStream[Long](spark)
      val q1 = MergeTables.streamAppend(ms.toDF().toDF("v"),
        "sk_oc_t", checkpointLocation = Some(cp))(stateOf)
      try { ms.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // the persisted lineage id landed beside the checkpoint
      assert(MergeTables.lineageAt(spark, cp).contains(1L))
      // MID-LINEAGE compaction (2 generations > maxGen=1 -> trips)
      assert(Sketches.compactSketchTable(spark, "sk_oc_t",
        maxGen = 1))
      // live stream keys are gone...
      val liveKeys = spark.table("sk_oc_t").select("batch_key")
        .as[Long].collect().filter(_ >= Similarity.streamBatchKeyBase)
      assert(liveKeys.isEmpty, "compaction left live stream keys")
      // ...but the lineage's committed batch still reads as replayed,
      // while uncommitted batchIds and other lineages do not
      assert(MergeTables.replayed(spark, "sk_oc_t",
        MergeTables.streamKey(1L, 0L)), "high-water mark lost")
      assert(!MergeTables.replayed(spark, "sk_oc_t",
        MergeTables.streamKey(1L, 1L)))
      assert(!MergeTables.replayed(spark, "sk_oc_t",
        MergeTables.streamKey(2L, 0L)))
      // (c) a re-delivery of the compacted-away batchId is a no-op
      val rowsBefore = spark.table("sk_oc_t").count()
      Sketches.streamAppendSketchBatch(b1.toDF("v"), 0L, col("v"),
        "sk_oc_t", lineage = 1L)
      assert(spark.table("sk_oc_t").count() == rowsBefore,
        "a compacted-away committed batch was re-appended")
      // (b) RESUME from the checkpoint ALONE — no lineage argument;
      // the persisted id is read back, resumed batchIds continue
      val q2 = MergeTables.streamAppend(ms.toDF().toDF("v"),
        "sk_oc_t", checkpointLocation = Some(cp))(stateOf)
      try { ms.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val probed = Sketches.quantilesFromSketchTable(
          spark, "sk_oc_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot,
        "online compaction skipped or double-counted a batch")
      // a mismatched EXPLICIT lineage with an existing checkpoint
      // refuses loudly instead of silently double-counting
      val ex = intercept[IllegalArgumentException] {
        MergeTables.streamAppend(ms.toDF().toDF("v"),
          "sk_oc_t", checkpointLocation = Some(cp),
          lineage = Some(99L))(stateOf)
      }
      assert(ex.getMessage.contains("contradicts"))
      // a FRESH PROCESS allocating on this table must see the
      // compacted-away lineage through the marks alone
      MergeTables.forgetLineages("sk_oc_t")
      assert(MergeTables.allocLineage(spark, "sk_oc_t") >= 2L,
        "allocLineage ignored compacted-away lineage marks")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_oc_t")
      spark.sql("DROP TABLE IF EXISTS sk_oc_t_hwm")
    }
  }

  test("writer lease: same-process queries share, a foreign process is refused loudly, steal recovers") {
    // r15 verdict item 4: allocLineage's registry coordinates
    // concurrent queries WITHIN one driver; two writer PROCESSES had
    // only a documented rule. The lease table (atomic catalog CREATE)
    // enforces it: same-JVM holders refcount one lease, a foreign
    // token fails with the remedy in the message, stealWriterLease is
    // the explicit operator override.
    import graft.pipeline.{MergeTables, Sketches}
    import org.apache.spark.sql.functions.col
    val vals = (1 to 300).map(i => (i.toLong * 2654435761L) % 1000L + 1L)
    def leaseGone(): Boolean =
      !spark.catalog.tableExists("sk_wl_t_wlease")
    try {
      Sketches.writeSketchTable(vals.toDF("v"), col("v"), "sk_wl_t")
      val ms1 = MemoryStream[Long](spark)
      val ms2 = MemoryStream[Long](spark)
      val q1 = Sketches.startStreamAppendSketchTable(
        ms1.toDF().toDF("v"), col("v"), "sk_wl_t")
      // a SECOND query in the same process shares the lease (no throw)
      val q2 = Sketches.startStreamAppendSketchTable(
        ms2.toDF().toDF("v"), col("v"), "sk_wl_t")
      assert(spark.catalog.tableExists("sk_wl_t_wlease"),
        "no lease held while two writers stream")
      try {
        ms1.addData(vals.take(50)); q1.processAllAvailable()
        ms2.addData(vals.take(50)); q2.processAllAvailable()
      } finally { q1.stop(); q2.stop() }
      // release rides the async termination event — wait it out
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!leaseGone() && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(leaseGone(), "lease not released after both queries ended")
      // a FOREIGN process's lease (different token) refuses loudly
      Seq("someone-elses-process").toDF("tok").write
        .saveAsTable("sk_wl_t_wlease")
      val ex = intercept[IllegalArgumentException] {
        MergeTables.acquireWriterLease(spark, "sk_wl_t")
      }
      assert(ex.getMessage.contains("held by another process"))
      // the explicit override clears it; the happy path is unchanged
      MergeTables.stealWriterLease(spark, "sk_wl_t")
      MergeTables.acquireWriterLease(spark, "sk_wl_t")
      assert(spark.catalog.tableExists("sk_wl_t_wlease"))
      MergeTables.releaseWriterLease(spark, "sk_wl_t")
      assert(leaseGone())
      // a lease DIRECTORY the catalog doesn't know (a holder whose
      // metastore lifetime is not ours — live writer process or
      // crashed one) refuses with ITS committed token; steal clears
      // the dir too
      val db = spark.catalog.currentDatabase
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new java.net.URI(spark.catalog.getDatabase(db).locationUri)),
        "sk_wl_t_wlease")
      Seq("other-lifetime-token").toDF("tok")
        .write.parquet(loc.toString)
      val ex2 = intercept[IllegalArgumentException] {
        MergeTables.acquireWriterLease(spark, "sk_wl_t")
      }
      assert(ex2.getMessage.contains("other-lifetime-token"),
        s"foreign-dir holder not surfaced: ${ex2.getMessage}")
      MergeTables.stealWriterLease(spark, "sk_wl_t")
      MergeTables.acquireWriterLease(spark, "sk_wl_t")
      MergeTables.releaseWriterLease(spark, "sk_wl_t")
      assert(leaseGone())
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_wl_t")
      spark.sql("DROP TABLE IF EXISTS sk_wl_t_wlease")
    }
  }

  test("lease race loser removes its own committed token, leaving the winner's readable") {
    // the both-committed race (two per-process catalogs both saveAsTable
    // into one shared location): the loser refuses — and must remove
    // ITS token file(s) before doing so, or every later acquirer reads
    // TWO committed tokens forever, a state neither the token check nor
    // the adoption policy can resolve once the winner crashes. The
    // cleanup is file-level: only files holding exactly our token go;
    // the winner's file and the control files stay.
    import graft.pipeline.MergeTables
    try {
      MergeTables.acquireWriterLease(spark, "sk_rc_t")
      val loc = MergeTables.leaseLoc(spark, "sk_rc_t_wlease")
      // the racer's token file lands beside ours (what the shared
      // location holds after both saveAsTable committed)
      Seq("foreign-racer").toDF("tok").coalesce(1)
        .write.mode("append").parquet(loc.toString)
      assert(MergeTables.leaseTokensAt(spark, "sk_rc_t_wlease")
          .size == 2, "race state not constructed")
      MergeTables.dropOwnCommittedToken(spark, "sk_rc_t_wlease")
      assert(MergeTables.leaseTokensAt(spark, "sk_rc_t_wlease")
          == Seq("foreign-racer"),
        "loser cleanup did not leave exactly the winner's token")
    } finally {
      MergeTables.stealWriterLease(spark, "sk_rc_t")
      spark.sql("DROP TABLE IF EXISTS sk_rc_t_wlease")
    }
  }

  test("lease liveness: holders renew a heartbeat; adopt-after-TTL takes a silent lease and refuses a renewing one") {
    // r16 verdict item 1: the lease refused a foreign token
    // unconditionally, so a CRASHED foreign writer blocked the pipeline
    // until a human called stealWriterLease. With
    // graft.lease.adoptAfterMs declared, the acquirer observes the
    // holder's heartbeat for the TTL: silent -> presumed crashed,
    // adopted; advancing -> live, refused with the observation. The
    // reference's own liveness mechanism (JobTracker heartbeats).
    import graft.pipeline.{MergeTables, Sketches}
    import org.apache.spark.sql.functions.col
    def leaseGone(): Boolean =
      !spark.catalog.tableExists("sk_ll_t_wlease")
    try {
      // 0) live holders renew WITHOUT being asked: a streaming append's
      // lease heartbeat advances on the configured cadence
      spark.conf.set("graft.lease.renewIntervalMs", "100")
      Sketches.writeSketchTable(Seq(5L, 9L).toDF("v"), col("v"), "sk_ll_t")
      val ms = MemoryStream[Long](spark)
      val q = Sketches.startStreamAppendSketchTable(
        ms.toDF().toDF("v"), col("v"), "sk_ll_t")
      try {
        ms.addData(Seq(7L)); q.processAllAvailable()
        val dl = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (MergeTables.leaseBeat(spark, "sk_ll_t_wlease") < 1L &&
            System.nanoTime() < dl)
          Thread.sleep(50)
        assert(MergeTables.leaseBeat(spark, "sk_ll_t_wlease") >= 1L,
          "streaming holder never renewed its lease heartbeat")
      } finally q.stop()
      val dl0 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!leaseGone() && System.nanoTime() < dl0) Thread.sleep(50)
      assert(leaseGone(), "lease not released after the query ended")
      // 1) a silent ("crashed") foreign holder: refused without the
      // policy; with the policy, refused UNTIL the holder's heartbeat
      // declaration is present (a holder that never declared a cadence
      // — a batch mutator — proves nothing by silence). The adoption
      // itself is DEADLINE-BASED (r17 verdict item 6): the first
      // acquire records the observation and refuses WITHOUT sleeping;
      // an acquire past the deadline adopts.
      Seq("crashed-holder").toDF("tok").write.saveAsTable("sk_ll_t_wlease")
      intercept[IllegalArgumentException] {
        MergeTables.acquireWriterLease(spark, "sk_ll_t")
      }
      spark.conf.set("graft.lease.adoptAfterMs", "2000")
      val noDecl = intercept[IllegalArgumentException] {
        MergeTables.acquireWriterLease(spark, "sk_ll_t")
      }
      assert(noDecl.getMessage.contains("declared no heartbeat"),
        s"undeclared holder was not refused as such: ${noDecl.getMessage}")
      MergeTables.declareRenewInterval(spark, "sk_ll_t", 100L)
      val t0 = System.nanoTime()
      val starting = intercept[IllegalArgumentException] {
        MergeTables.acquireWriterLease(spark, "sk_ll_t")
      }
      val callMs = (System.nanoTime() - t0) / 1000000L
      assert(starting.getMessage.contains("observation"),
        s"first policy acquire did not start an observation: " +
          starting.getMessage)
      assert(callMs < 1500,
        s"observing acquire blocked ${callMs}ms — the call slept out " +
          "the window instead of recording a deadline")
      // before the deadline: still refused, still without sleeping
      val waiting = intercept[IllegalArgumentException] {
        MergeTables.acquireWriterLease(spark, "sk_ll_t")
      }
      assert(waiting.getMessage.contains("ms left"),
        s"pre-deadline acquire did not report the window: " +
          waiting.getMessage)
      Thread.sleep(2100) // straddle the deadline
      MergeTables.acquireWriterLease(spark, "sk_ll_t")
      assert(spark.catalog.tableExists("sk_ll_t_wlease"),
        "adoption did not re-acquire the lease")
      MergeTables.releaseWriterLease(spark, "sk_ll_t")
      assert(leaseGone())
      // 2) a RENEWING foreign holder stays refused under the same
      // policy: the observation starts, and the next acquire sees the
      // advanced beat — LIVE
      Seq("live-holder").toDF("tok").write.saveAsTable("sk_ll_t_wlease")
      MergeTables.declareRenewInterval(spark, "sk_ll_t", 100L)
      spark.conf.set("graft.lease.adoptAfterMs", "400")
      val renewing = new java.util.concurrent.atomic.AtomicBoolean(true)
      val renewer = new Thread(() => {
        while (renewing.get()) {
          MergeTables.renewWriterLease(spark, "sk_ll_t")
          Thread.sleep(100)
        }
      })
      renewer.setDaemon(true); renewer.start()
      try {
        intercept[IllegalArgumentException] { // starts the observation
          MergeTables.acquireWriterLease(spark, "sk_ll_t")
        }
        Thread.sleep(500) // past the deadline; the holder kept beating
        val ex = intercept[IllegalArgumentException] {
          MergeTables.acquireWriterLease(spark, "sk_ll_t")
        }
        assert(ex.getMessage.contains("LIVE"),
          s"renewing holder not recognized as live: ${ex.getMessage}")
      } finally { renewing.set(false); renewer.join() }
      MergeTables.stealWriterLease(spark, "sk_ll_t")
      // 3) the observation window is clamped to TWO of the HOLDER's
      // declared cadences: an acquirer whose TTL is shorter than one
      // cadence must still see a live holder's next beat instead of
      // reading the between-beats gap as a crash
      Seq("slow-holder").toDF("tok").write.saveAsTable("sk_ll_t_wlease")
      MergeTables.declareRenewInterval(spark, "sk_ll_t", 400L)
      spark.conf.set("graft.lease.adoptAfterMs", "50")
      val lateBeat = new Thread(() => {
        Thread.sleep(300)
        MergeTables.renewWriterLease(spark, "sk_ll_t")
      })
      lateBeat.setDaemon(true); lateBeat.start()
      try {
        intercept[IllegalArgumentException] { // starts the observation
          MergeTables.acquireWriterLease(spark, "sk_ll_t")
        }
        // past the CLAMPED 800ms deadline (2 x 400ms cadence), by when
        // the late 300ms beat has landed
        Thread.sleep(900)
        val ex = intercept[IllegalArgumentException] {
          MergeTables.acquireWriterLease(spark, "sk_ll_t")
        }
        assert(ex.getMessage.contains("LIVE"),
          "a 50ms TTL adopted a live holder beating on its declared " +
            s"400ms cadence: ${ex.getMessage}")
      } finally lateBeat.join()
      MergeTables.stealWriterLease(spark, "sk_ll_t")
    } finally {
      spark.conf.unset("graft.lease.adoptAfterMs")
      spark.conf.unset("graft.lease.renewIntervalMs")
      spark.sql("DROP TABLE IF EXISTS sk_ll_t")
      spark.sql("DROP TABLE IF EXISTS sk_ll_t_wlease")
    }
  }

  test("keyed batch append: a retried delivery is an exact no-op, across a compaction too") {
    // r16 verdict item 5: plain batch appends on the additive tiers
    // double-counted when retried (the caller owned exactly-once).
    // appendKeyed names the operation with the same (lineage, batchId)
    // machinery the streamed appends use — a re-delivery of a
    // committed key probes bit-identical, and the key survives the
    // compaction rewrite through the high-water-mark sidecar.
    import graft.pipeline.{MergeTables, Sketches}
    import org.apache.spark.sql.functions.col
    val base = (1 to 200).map(i => (i.toLong * 48271) % 900L + 1L)
    val batch = (1 to 80).map(i => (i.toLong * 69621) % 900L + 1L)
    val pcts = Seq(50, 90, 99)
    def probe(t: String) =
      Sketches.quantilesFromSketchTable(spark, t, pcts).collect().toSeq
    try {
      Sketches.writeSketchTable(base.toDF("v"), col("v"), "sk_ik_t")
      val lin = MergeTables.allocLineage(spark, "sk_ik_t")
      assert(Sketches.appendSketchTableKeyed(
        batch.toDF("v"), col("v"), "sk_ik_t", lin, 0L))
      val once = probe("sk_ik_t")
      // the retried delivery: an exact no-op, not a double-count
      assert(!Sketches.appendSketchTableKeyed(
        batch.toDF("v"), col("v"), "sk_ik_t", lin, 0L))
      assert(probe("sk_ik_t") == once,
        "retried keyed batch append changed the probe")
      // the key survives the compaction rewrite (hwm sidecar)
      Sketches.compactSketchTable(spark, "sk_ik_t")
      assert(!Sketches.appendSketchTableKeyed(
        batch.toDF("v"), col("v"), "sk_ik_t", lin, 0L),
        "keyed append re-appended after compaction — key lost in rewrite")
      assert(probe("sk_ik_t") == once)
      // and the grown sketch equals the one-shot over the union
      Sketches.writeSketchTable((base ++ batch).toDF("v"), col("v"),
        "sk_ik_ora")
      assert(probe("sk_ik_ora") == once,
        "keyed append's probe drifted from the one-shot sketch")
    } finally {
      for (t <- Seq("sk_ik_t", "sk_ik_t_hwm", "sk_ik_ora", "sk_ik_ora_hwm"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("hwm retirement: marks beyond the horizon fold into a floor; retained lineages skip exactly; retired ids never re-issue") {
    // r16 verdict item 4: the hwm sidecar grew one row per lineage
    // FOREVER — the unattended loop's last unbounded artifact. With
    // graft.hwm.keepLineages declared, compaction keeps the newest K
    // lineages' exact marks and folds the rest into one floor row:
    // retained lineages still skip exactly, retired ones are refused
    // loudly on replay/resume (never silently double-counted), and
    // allocLineage can never re-issue a retired id.
    import graft.pipeline.{MergeTables, Sketches}
    import org.apache.spark.sql.functions.col
    val pcts = Seq(50, 99)
    def probe() =
      Sketches.quantilesFromSketchTable(spark, "sk_rh_t", pcts)
        .collect().toSeq
    def marks() = spark.table("sk_rh_t_hwm").select("lineage", "hwm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      Sketches.writeSketchTable(Seq(10L, 20L).toDF("v"), col("v"),
        "sk_rh_t")
      for (lin <- 1L to 4L)
        assert(Sketches.appendSketchTableKeyed(
          Seq(lin * 100L).toDF("v"), col("v"), "sk_rh_t", lin, 0L))
      val grown = probe()
      spark.conf.set("graft.hwm.keepLineages", "2")
      Sketches.compactSketchTable(spark, "sk_rh_t")
      assert(probe() == grown, "compaction changed the probe")
      // beyond-horizon marks vanished into the floor row
      assert(marks() == Set((3L, 0L), (4L, 0L), (2L, Long.MaxValue)),
        s"unexpected retired mark set: ${marks()}")
      // within the horizon: replay detection stays EXACT
      assert(!Sketches.appendSketchTableKeyed(
        Seq(300L).toDF("v"), col("v"), "sk_rh_t", 3L, 0L),
        "retained lineage's committed batch re-appended")
      assert(probe() == grown)
      // beyond the horizon: refused loudly, never silently re-counted
      val ex = intercept[IllegalStateException] {
        Sketches.appendSketchTableKeyed(
          Seq(100L).toDF("v"), col("v"), "sk_rh_t", 1L, 0L)
      }
      assert(ex.getMessage.contains("retired"), ex.getMessage)
      assert(probe() == grown)
      // a fresh process can never re-issue a retired lineage id: the
      // floor row keeps the max for the committed-state derivation
      MergeTables.forgetLineages("sk_rh_t")
      assert(MergeTables.allocLineage(spark, "sk_rh_t") >= 5L,
        "allocLineage re-issued at/below the retirement floor")
      // the floor survives further compactions
      Sketches.appendSketchTable(Seq(500L).toDF("v"), col("v"), "sk_rh_t")
      Sketches.compactSketchTable(spark, "sk_rh_t")
      assert(marks().contains((2L, Long.MaxValue)),
        "retirement floor lost in a later compaction")
    } finally {
      spark.conf.unset("graft.hwm.keepLineages")
      spark.sql("DROP TABLE IF EXISTS sk_rh_t")
      spark.sql("DROP TABLE IF EXISTS sk_rh_t_hwm")
    }
  }

  test("a second same-process writer's appends interleaved with another query's IN-LOOP compactions lose nothing") {
    // the review-found race the table mutation lock closes: query A
    // compacts in its loop while query B appends — without the lock, a
    // generation landing between A's merged-view read and its
    // DROP/RENAME swap is silently deleted (B's in-run memo then never
    // re-appends it). With MergeTables.withTableLock serializing
    // same-table mutations, any interleaving ends bit-equal to the
    // one-shot sketch over the union.
    import graft.pipeline.{MergeTables, Sketches}
    import org.apache.spark.sql.functions.col
    val vals = (1 to 900).map(i => (i.toLong * 2654435761L) % 100000L + 1L)
    val (base, rest) = vals.splitAt(300)
    val (sa, sb) = rest.splitAt(300)
    try {
      Sketches.writeSketchTable(base.toDF("v"), col("v"), "sk_rc_t")
      val msA = MemoryStream[Long](spark)
      val msB = MemoryStream[Long](spark)
      // A: appends + aggressive in-loop compaction every batch
      val linA = MergeTables.allocLineage(spark, "sk_rc_t")
      val qA = msA.toDF().toDF("v").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            batchId: Long) =>
          Sketches.streamAppendSketchBatch(batch, batchId, col("v"),
            "sk_rc_t", lineage = linA)
          Sketches.compactSketchTable(spark, "sk_rc_t", maxGen = 1)
          ()
        }.start()
      // B: plain streamed appends on the same table
      val qB = Sketches.startStreamAppendSketchTable(
        msB.toDF().toDF("v"), col("v"), "sk_rc_t")
      try {
        // interleave: both queries live, batches alternating
        for (i <- 0 until 3) {
          msA.addData(sa.slice(i * 100, i * 100 + 100))
          msB.addData(sb.slice(i * 100, i * 100 + 100))
          qA.processAllAvailable(); qB.processAllAvailable()
        }
      } finally { qA.stop(); qB.stop() }
      val probed = Sketches.quantilesFromSketchTable(
          spark, "sk_rc_t", Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val oneShot = Sketches.logBucketQuantiles(
          vals.toDF("v"), col("v"), Seq(50, 90, 99))
        .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty && probed == oneShot,
        "an interleaved compaction dropped a concurrent writer's batch")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sk_rc_t")
      spark.sql("DROP TABLE IF EXISTS sk_rc_t_hwm")
    }
  }

  test("a corrupt checkpoint lineage file refuses loudly with the remedy") {
    import graft.pipeline.MergeTables
    val cp = SparkTest.tmpDir("bad_lineage_cp")
    val p = new org.apache.hadoop.fs.Path(cp, "graft_lineage")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("not-a-number".getBytes) finally out.close()
    val ex = intercept[IllegalArgumentException] {
      MergeTables.lineageAt(spark, cp)
    }
    assert(ex.getMessage.contains("delete the file"),
      s"unexpected message: ${ex.getMessage}")
  }

  test("maintainBatch materializes the source micro-batch ONCE across the four card appends") {
    // r15 verdict item 7: four sequential appends per micro-batch,
    // each its own Spark job — without the cache the batch's rows
    // recompute 4x per commit (a re-read from Kafka/files in
    // production). A row-counting accumulator inside the batch's
    // lineage observes materializations directly: persist() means the
    // first append computes and caches, the other three read the
    // cache.
    import graft.pipeline.{DatasetCard, Samples, Sketches, TextAnalysis}
    import org.apache.spark.sql.functions._
    val acc = spark.sparkContext.longAccumulator("batch_reads")
    val counted = udf { (id: Long) => acc.add(1L); id }
    val docs = (0L until 30L).map(i =>
      (i, s"src${i % 3}", s"tok${i % 7} tok${i % 5} alpha"))
    val ts = Seq("cb_len_t", "cb_cm_t", "cb_hll_t", "cb_smp_t")
    try {
      val sdf = docs.toDF("doc_id", "source", "text")
      Sketches.writeSketchTable(sdf, length(col("text")), ts(0),
        group = Some(col("source")))
      TextAnalysis.writeCountMinTable(sdf, "text", ts(1), width = 64,
        depth = 3, group = Some("source"))
      ValueAggregators.writeHllTable(
        sdf.select(col("source"), explode(
          expr("filter(split(text, ' '), x -> length(x) > 0)"))
          .as("tok")), col("source"), col("tok"), ts(2))
      Samples.writeSampleTable(sdf, "doc_id", 3, ts(3),
        group = Some("source"))
      val batch = sdf.withColumn("doc_id", counted(col("doc_id")))
      DatasetCard.maintainBatch(batch, 0L, ts(0), ts(1), ts(2), ts(3),
        k = 3, width = 64, depth = 3, lineage = 5L)
      assert(acc.value == docs.size.toLong,
        s"batch materialized ${acc.value / docs.size.toDouble}x — " +
          "expected exactly once (cached across the four appends)")
    } finally {
      ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
