package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable plan-quality assertions — the properties that make these
  * plans survive a 100 TB scale-up, checked on the real queries' executed
  * plans so a refactor that silently loses pushdown, partial aggregation,
  * a broadcast, or sampled range partitioning fails the build rather than
  * the next benchmark. */
class PlanQualitySpec extends AnyFunSuite with SparkTest {

  private val d = "/root/testdata/sf0.001"

  test("every oracle SQL string is fully rendered (no stray interpolations)") {
    // a """..."""-literal missing its s-prefix ships "${...}" verbatim to
    // DuckDB as a syntax error — caught here instead of at driver time
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("${"), s"$name oracle has an unrendered splice")
    }
    // every oracle key must have a query — and since r12 EVERY query
    // has an oracle: the float-Lloyd (bit-exact REAL-arithmetic twin)
    // and portable-HLL rows closed the last two declared gaps
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toString)
    assert(noOracle.isEmpty, noOracle.toString)
  }

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, d)
    df.collect() // executedPlan after AQE finalizes
    df.queryExecution.executedPlan.toString
  }

  /** Every node of the executed plan, descending through AQE stages and
    * exchange reuse — so typed asserts see the real exchange outputs. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case other                    => other.children
    }
    p +: kids.flatMap(planNodes)
  }

  private def isFloatArray(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType |
      org.apache.spark.sql.types.DoubleType, _) => true
    case _ => false
  }

  /** TYPED exchange-payload assert (the r10 lesson generalized): walk
    * every ShuffleExchangeExec/BroadcastExchangeExec OUTPUT attribute —
    * not string-matched tree lines, which only show partition keys /
    * modes and let a non-reused exchange smuggle vectors undetected —
    * and require no shuffle carries a float/double array; a broadcast
    * may carry one only under a name in `allowedBroadcast` (the
    * query-side vectors a k-bounded probe legitimately ships). */
  private def assertVectorFreeExchanges(df: org.apache.spark.sql.DataFrame,
      allowedBroadcast: Set[String] = Set.empty): Unit = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val all = planNodes(df.queryExecution.executedPlan)
    for (e <- all.collect { case s: ShuffleExchangeExec => s }; a <- e.output)
      assert(!isFloatArray(a.dataType),
        s"shuffle carries float array $a: ${e.simpleString(20)}")
    for (e <- all.collect { case b: BroadcastExchangeExec => b };
         a <- e.output if isFloatArray(a.dataType))
      assert(allowedBroadcast.contains(a.name),
        s"broadcast carries disallowed float array $a: ${e.simpleString(20)}")
  }

  /** [[assertVectorFreeExchanges]] restricted to shuffles PARTITIONED on
    * any of `keyNames` — for plans where a linear per-id vector
    * join-back is legitimate but the quadratic (bucket-/pair-keyed)
    * stages must move scalars only. */
  private def assertKeyedShufflesVectorFree(
      df: org.apache.spark.sql.DataFrame, keyNames: Set[String]): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val keyed = planNodes(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case h: HashPartitioning
          if h.expressions.exists(
            _.references.exists(r => keyNames.contains(r.name))) => Some(s)
        case _ => None
      }
    }.flatten
    assert(keyed.nonEmpty,
      s"no shuffle keyed on $keyNames found — the assert would be vacuous")
    for (e <- keyed; a <- e.output)
      assert(!isFloatArray(a.dataType),
        s"$keyNames-keyed shuffle carries float array $a: ${e.simpleString(20)}")
  }

  /** The query's frame, executed so AQE finalizes — for typed asserts
    * that need the plan tree, not its string. */
  private def planDf(q: String, dir: String = d)
      : org.apache.spark.sql.DataFrame = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df
  }

  test("minhash signatures compute in the scan projection — zero exchanges") {
    // q31's own executed plan is hidden behind its localCheckpoint, so
    // assert on the signature stage itself: scan -> project, NO exchange
    // (the aggregate twin needs a corpus-wide posting shuffle here)
    import org.apache.spark.sql.functions.{call_function, col, lit}
    graft.functions.VectorOps.ensureRegistered(spark)
    val sigs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"),
        call_function("minhash_sigs", col("text"), lit(3), lit(24)).as("s"))
    sigs.collect()
    val p = sigs.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("minhashsigs"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("q82: the predicate pushes into the ORC scan") {
    val df = SparkEntry.queries("q82_orc_rt")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("orc"), p)
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_quantity,30"), p)
  }

  test("q01: filter and column pruning reach the parquet scan") {
    val p = plan("q01_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    // pruned read schema: the 5 selected columns only, not all 16
    assert(p.contains("ReadSchema") && !p.contains("l_comment"), p)
  }

  test("q05: aggregation runs map-side partials before the shuffle") {
    val p = plan("q05_sum")
    assert(p.contains("partial_sum"), p)
  }

  test("q09: small dimension side broadcasts") {
    val p = plan("q09_inner_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q13: global sort uses sampled range partitioning") {
    val p = plan("q13_global_sort")
    assert(p.contains("rangepartitioning"), p)
  }

  test("q16: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q16_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q30: exact-dedup shuffle carries the 16-byte fingerprint, not the document body") {
    val p = plan("q30_dedup_exact")
    // the grouping key is the hoisted md5 (_groupingexpression); the
    // exchange and the partial aggregate must not reference the text col
    val exchange = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exchange.contains("_groupingexpression"), p.take(3000))
    assert(!exchange.contains("text#"), exchange)
    val partial = p.linesIterator.find(_.contains("partial_min")).getOrElse("")
    assert(!partial.contains("text#"), partial)
  }

  test("q12: three-way join broadcasts both dimension sides") {
    val p = plan("q12_threeway_join")
    val broadcasts = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2, p.take(3000))
  }

  test("q34b (wide-angle): verification runs inside the bucket join, no candidate-pair shuffle") {
    val p = plan("q34b_embed_neardup_lsh")
    // at τ=0.5 the candidate set is a large fraction of ALL pairs, so the
    // plan must never materialize it: the only pair-keyed aggregate is
    // the POST-verification distinct, whose keys include the cos — i.e.
    // it runs on the result-sized filtered frame, not the candidate set
    val pairAggs = p.linesIterator.filter(l =>
      l.contains("HashAggregate(keys=[id_a#") && l.contains("functions=[]"))
      .toSeq
    assert(pairAggs.nonEmpty, p.take(4000))
    assert(pairAggs.forall(_.contains("cos#")),
      "found a pre-verification candidate-pair aggregate:\n" +
        pairAggs.mkString("\n"))
  }

  test("lshNearDupPairs at scale parameters: candidate generation shuffles ids, never embeddings") {
    // high-τ regime (many planes, random collision rate ~0): the
    // quadratic stage (bucket self-join + candidate distinct) must move
    // ids only; vectors join back AFTER the distinct, keyed by id
    // (linear). The distinct's partial aggregate is the stage that must
    // emit exactly [id_a, id_b].
    val df = graft.pipeline.Similarity.lshNearDupPairs(
      Tables.embeddings(spark, d), "vec_id", "embedding",
      threshold = 0.9, planes = 12, tables = 8, dim = 64)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val partial = p.linesIterator.filter(l =>
      l.contains("HashAggregate(keys=[id_a#") && l.contains("functions=[]"))
      .toSeq
    assert(partial.nonEmpty, p.take(4000))
    assert(partial.forall(
      _.matches(""".*output=\[id_a#\d+L?, id_b#\d+L?\].*""")), p.take(4000))
    // and no bucket-carrying exchange (shuffled or broadcast) moves a
    // vector — TYPED output walk, not tree-line grep (a non-reused
    // exchange's payload never prints in the tree string)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    for (e <- planNodes(df.queryExecution.executedPlan)
           if e.isInstanceOf[ShuffleExchangeExec] ||
              e.isInstanceOf[BroadcastExchangeExec]
           if e.output.exists(_.name == "tb");
         a <- e.output)
      assert(!isFloatArray(a.dataType),
        s"bucket exchange carries float array $a: ${e.simpleString(20)}")
  }

  test("q34b at shuffle scale: the bucket projection computes once (ReusedExchange)") {
    // at shuffle scale the bucket self-join shuffles both sides; the
    // bucketed projection — planes × tables dots per vector — must be
    // computed once and reused, not once per side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // sf0.01, not sf0.001: the larger corpus yields a non-empty result —
      // an all-empty output lets AQE collapse the final plan to
      // EmptyRelation, leaving no exchange to assert on
      val df = SparkEntry.queries("q34b_embed_neardup_lsh")(
        spark, "/root/testdata/sf0.01")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage")
        || p.contains("TableCacheQueryStage"), p.take(4000))
      // typed: in the wide-angle regime the vectors deliberately RIDE the
      // (linear, tables·n-row) tb-keyed exchange — the documented
      // strategy — so the scale claim here is that no PAIR-keyed
      // (quadratic) shuffle carries a vector: pairs are born and die
      // inside the bucket join, and the only pair-keyed exchange is the
      // result-sized post-verification distinct
      assertKeyedShufflesVectorFree(df, Set("id_a"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q35c: IVF candidate join is keyed on the cell, vectors pruned from the rank shuffle") {
    val p = plan("q35c_ann_ivf")
    // the map-side partial top-k aggregate emits only (q_id, buffer) —
    // the rank shuffle never carries an embedding column
    val aggLine = p.linesIterator.find(_.contains("partial_collect_list"))
    assert(aggLine.isDefined, p.take(4000))
    assert(aggLine.get.matches(""".*output=\[q_id#\d+L?, buf#\d+\].*"""),
      aggLine.get)
  }

  test("q89: no exchange carries a float vector — codes ride as 64-byte blobs") {
    // ivfAdcTopK's scale claim: the candidate join and rank shuffle move
    // packed binary codes + one double scale, never array<float|double>
    // embeddings. Any exchange line referencing a vector column is the
    // regression this guards against.
    val df = planDf("q89")
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange"))
      .mkString("\n")
    assert(exchanges.nonEmpty, p.take(3000))
    assert(!exchanges.contains("embedding#") && !exchanges.contains(", v#"),
      exchanges)
    // typed: the same claim on the real exchange OUTPUTS (tree lines
    // hide a non-reused exchange's payload)
    assertVectorFreeExchanges(df)
  }

  test("q96: the percentile profile partial-aggregates map-side") {
    // the length-distribution audit's scale story: the shuffle carries
    // per-source partial percentile buffers (distinct-length count
    // maps), not document rows — a missing partial_percentile means
    // every row crosses the wire to 20 reducers
    val p = plan("q96")
    assert(p.contains("partial_percentile"), p.take(3000))
  }

  test("q95: the range join plans as a binned equi-join — never a nested loop") {
    // rangeJoin exists to avoid BroadcastNestedLoopJoin/CartesianProduct
    // (what Spark plans for a bare inequality predicate — all pairs
    // scanned). A nested-loop operator appearing here means the binning
    // rewrite regressed to the quadratic theta join.
    val p = plan("q95")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(3000))
  }

  test("q92: the outlier rank shuffle carries (vec_id, cell, d2) — never the embedding") {
    // outlierAudit's scale claim: assignment + distance are map-side
    // (broadcast centroid table), so the only data-sized exchange is the
    // per-cell window's hash shuffle of three scalar columns. An
    // exchange line referencing the vector column means the distance
    // computation slid past the shuffle and the wire is carrying
    // 256-byte embeddings instead of 20-byte rows.
    val df = planDf("q92")
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange"))
      .mkString("\n")
    assert(exchanges.nonEmpty, p.take(3000))
    assert(!exchanges.contains("embedding#") && !exchanges.contains(", e#"),
      exchanges)
    // typed twin of the line grep, on the real exchange outputs; the
    // one legitimate float-array broadcast is the nlist-row centroid
    // table (`cent`) — bounded by the cell count, never the corpus
    assertVectorFreeExchanges(df, allowedBroadcast = Set("cent"))
  }

  test("q84/q85: quantization audit and chunking are pure map-side — zero exchanges") {
    // both operators' 100 TB story is "one scan, no shuffle": the int8
    // audit collapses to a single project, the chunker to project +
    // generate — an Exchange appearing in either is a regression
    for (q <- Seq("q84_i8", "q85_win", "q93")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: ${p.take(2000)}")
    }
  }

  test("q86: the persisted archive index joins in bucketed layout — no shuffle on the stored side") {
    // build a real index, then probe it with broadcast disabled so the
    // join must choose between shuffling and consuming the bucketed
    // layout: exactly ONE exchange may appear (the increment-sized batch
    // band rows moving TO the index's clustering), never a second one
    // re-shuffling the stored side — that re-shuffle is precisely what
    // persisting the archive signatures exists to delete at 100 TB
    import graft.pipeline.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val (h, b) = Dedup.minhashParams(0.8, 0.95, maxHashes = 24)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // inside the try: a failed build must still hit the finally DROP
      Dedup.writeMinhashIndex(docs.filter(col("doc_id") < 400), "doc_id",
        "text", "q86_plan_idx", n = 3, numHashes = h, bands = b)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bsigs = Dedup.mapSideSignatures(
        docs.filter(col("doc_id") >= 400), "doc_id", "text", 3, h)
      val cands = Dedup.probeCandidates(spark, "q86_plan_idx", bsigs,
        b, h / b)
      cands.collect()
      // count the FINAL plan only — AQE's trailing "== Initial Plan =="
      // section repeats every node and would double-count the exchange
      val p = cands.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), p.take(4000))
      val exchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1,
        s"stored index side re-shuffled ($exchanges exchanges):\n" +
          p.take(4000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS q86_plan_idx")
    }
  }

  test("qg1: the sharded ADC probe is ONE plan at any shard count — one bucketed _sv scan, gcell In pushed, plan size shard-count-invariant") {
    // r19 verdict item 1's plan gate: the retired per-shard fan-out
    // planned one scan + two broadcasts + one exchange PER SHARD
    // (measured ~0.1 s/shard of execution floor, linear task count);
    // the one-table layout must plan the SAME tree at 2 and at 8
    // shards — the probe's cost lives in the dials, never the shard
    // count. Same discipline as the q99 gate: broadcast disabled so
    // the candidate join must consume the bucketed layout.
    import graft.pipeline.Similarity
    val vecs = Tables.embeddings(spark, d)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val shapes = Seq(2, 8).map { sh =>
        Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
          s"qg1_plan_idx$sh", nShards = sh, dim = 64)
        val probe = Similarity.ivfAdcTopKIndexedSharded(vecs.limit(50),
          "vec_id", "embedding", k = 3, s"qg1_plan_idx$sh")
        probe.collect()
        val plan = probe.queryExecution.executedPlan
        val p = plan.toString.split("== Initial Plan ==")(0)
        assert(p.contains("Bucketed: true"), p.take(4000))
        assert(p.linesIterator.exists(l =>
            l.contains("PushedFilters") && l.contains("In(gcell")),
          "probed-gcell set not pushed into the stored scan:\n" +
            p.take(4000))
        // exactly ONE scan of the one data table — the fan-out is
        // data, not plan branches
        val svScans = p.linesIterator.count(l =>
          l.contains("Scan") && l.contains("_sv") && !l.contains("_sv_"))
        assert(svScans == 1,
          s"$svScans scans of the _sv data table at $sh shards:\n" +
            p.take(4000))
        // exactly the two structural exchanges — the probe side's
        // gcell co-partitioning repartition and the global rank's
        // q_id window exchange; a third would be the stored side
        // re-shuffling (the bucketed layout lost)
        val exchanges = p.linesIterator
          .count(_.contains("Exchange hashpartitioning"))
        assert(exchanges <= 2,
          s"stored side re-shuffled at $sh shards:\n" + p.take(4000))
        // shape fingerprint: node class sequence, dial-independent
        var nodes = 0
        plan.foreach(_ => nodes += 1)
        nodes
      }
      assert(shapes(0) == shapes(1),
        s"plan size changed with the shard count (2 shards: " +
          s"${shapes(0)} nodes, 8 shards: ${shapes(1)}) — the probe " +
          "is not one plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      for (sh <- Seq(2, 8); sfx <- Seq("_sv", "_sv_c", "_sv_g",
          "_sv_t", "_sh"))
        spark.sql(s"DROP TABLE IF EXISTS qg1_plan_idx$sh$sfx")
    }
  }

  test("q99: the persisted ADC index joins in bucketed layout — no shuffle on the stored side") {
    // the q86 property applied to vectors: build a real index, probe it
    // with broadcast disabled so the join must choose between shuffling
    // and consuming the bucketed layout — exactly ONE exchange may
    // appear (the probe side's documented materialization-barrier
    // repartition, which co-partitions with the buckets), never a
    // second one re-shuffling the stored codes
    import graft.pipeline.Similarity
    val vecs = Tables.embeddings(spark, d)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // inside the try: a failed build must still hit the finally DROPs
      // or reruns in the same session trip over the leaked tables
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "q99_plan_idx")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cands = Similarity.svFracCandidates(vecs, "vec_id",
        "embedding", "q99_plan_idx")
      cands.collect()
      val p = cands.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), p.take(4000))
      // the probed-cell In filter must reach the stored parquet scan
      // (row-group pruning via the gcell bloom filter + sorted
      // min/max): without it every probe batch pays a corpus-sized
      // codes scan
      assert(p.linesIterator.exists(l =>
          l.contains("PushedFilters") && l.contains("In(gcell")),
        "probed-cell set not pushed into the stored scan:\n" + p.take(4000))
      val exchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1,
        s"stored ADC index side re-shuffled ($exchanges exchanges):\n" +
          p.take(4000))
      // and no exchange in the probe carries a float vector
      val exLines = p.linesIterator.filter(_.contains("Exchange"))
        .mkString("\n")
      assert(!exLines.contains("embedding#") && !exLines.contains(", v#"),
        exLines)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      AdcKit.drop("q99_plan_idx")
    }
  }

  test("a streaming ADC probe keeps the join-only probe shape — no snapshot In(gcell) filter, the batch probe's candidates") {
    // the probe-side cell snapshot collects (bounded) query rows at
    // DataFrame-CONSTRUCTION time, which a streaming query side cannot
    // do: its micro-batch plan must scan the stored side WITHOUT the
    // In(gcell) filter (the distributed join-only shape — the In set is
    // derived only from the snapshot), and still emit exactly the batch
    // probe's candidate pairs
    import graft.pipeline.Similarity
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.{
      MemoryStream, StreamingQueryWrapper}
    import spark.implicits._
    val vecs = Tables.embeddings(spark, d)
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "qpd_plan_idx")
      val pairs = (df: DataFrame) =>
        df.select("q_id", "nb_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = Similarity.svFracCandidates(vecs, "vec_id",
        "embedding", "qpd_plan_idx")
      val bp = batch.queryExecution.executedPlan.toString
      assert(bp.contains("In(gcell"),
        "vacuous gate: the batch probe pushed no cell In set:\n" +
          bp.take(4000))
      val ms = MemoryStream[(Long, Array[Float])](spark)
      ms.addData(vecs.select($"vec_id".cast("long"),
          $"embedding".cast("array<float>"))
        .as[(Long, Array[Float])].collect().toSeq)
      val q = Similarity.svFracCandidates(
          ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          "qpd_plan_idx")
        .select("q_id", "nb_id")
        .writeStream.format("memory").queryName("qpd_plan_test").start()
      try {
        q.processAllAvailable()
        val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(!p.contains("In(gcell"),
          "the streaming probe pushed a cell In set:\n" + p.take(4000))
        val streamed = pairs(spark.table("qpd_plan_test"))
        assert(streamed.nonEmpty && streamed == pairs(batch),
          "join-only streaming candidates diverged from the batch probe")
      } finally q.stop()
    } finally AdcKit.drop("qpd_plan_idx")
  }

  test("two-level ADC probe keeps the flat path's plan shape — bucketed stored side, one probe-side exchange, vector-free") {
    // the tuned probe shares the flat probe's candidate body
    // (svProbeCandidates); this pins that the two-level cell selection
    // did not change the join shape (the scale contract is the SHAPE,
    // not the cell list). The ranked probe adds exactly one exchange of
    // its own — the global rank's q_id window.
    import graft.pipeline.Similarity
    val vecs = Tables.embeddings(spark, d)
    val (nlist, nprobe) = Similarity.ivfParams(vecs.count())
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "qhier_plan_idx")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Similarity.ivfAdcTopKIndexedShardedTuned(vecs, "vec_id",
        "embedding", k = 3, "qhier_plan_idx",
        Seq(Similarity.ShardDials(nprobe, 0.0, 2, 0.0)))
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), p.take(4000))
      val exchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 2,
        s"stored ADC index side re-shuffled ($exchanges exchanges):\n" +
          p.take(4000))
      val exLines = p.linesIterator.filter(_.contains("Exchange"))
        .mkString("\n")
      assert(!exLines.contains("embedding#") && !exLines.contains(", v#"),
        exLines)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      AdcKit.drop("qhier_plan_idx")
    }
  }

  test("qa1: corpus vectors never enter an exchange — shuffles carry no float array, broadcasts only the candidate-scale query side") {
    // ivfAdcRerank's scale claim, asserted on TYPED exchange outputs (not
    // string-matched tree lines, which only show partition keys / modes
    // and let a non-reused exchange smuggle floats undetected — r10):
    //   1. no ShuffleExchangeExec output attribute is a float/double
    //      array — codes and scalars only at corpus scale;
    //   2. any float array in a BroadcastExchangeExec must be the
    //      survivor-derived query vector `qv` (n_queries × depth rows),
    //      never the corpus `v`/`embedding` — the r10 regression was
    //      Spark broadcasting the whole normalized corpus table.
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val df = planDf("qa1")
    val all = planNodes(df.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[ShuffleExchangeExec]) &&
      all.exists(_.isInstanceOf[BroadcastExchangeExec]),
      df.queryExecution.executedPlan.toString.take(3000))
    assertVectorFreeExchanges(df, allowedBroadcast = Set("qv"))
  }

  test("ivfAdcRerankIndexed: the escalated serving path keeps qa1's scale shape — corpus vectors never enter an exchange") {
    // the serving policy's escalation target (r18): persisted-index
    // candidates to depth, full-precision-dot re-rank to k, served from
    // a stored rerank-mode decision. Same typed-exchange contract as
    // qa1's: shuffles carry no float array (int8 codes and scalars only
    // at corpus scale); any float array in a broadcast is the
    // survivor-derived query vector `qv` at candidate scale, never the
    // corpus column.
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, d)
    val (_, nprobe) = Similarity.ivfParams(vecs.count())
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "qri_plan_idx")
      Similarity.writeShardServing(spark, "qri_plan_idx",
        Seq(Similarity.ShardServing("rerank",
          Similarity.ShardDials(nprobe, 0.0, 0, 0.0), depth = 10,
          recall = 1.0)))
      val df = Similarity.ivfAdcTopKIndexedShardedTuned(
        vecs.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 3, "qri_plan_idx", vecs = Some(vecs))
      df.collect()
      assertVectorFreeExchanges(df, allowedBroadcast = Set("qv"))
    } finally AdcKit.drop("qri_plan_idx")
  }

  test("qa3: the whitening apply is a pure map-side projection — zero exchanges") {
    // whiten's scale claim: the dim-bounded stats re-enter the plan as
    // literal arrays, so the apply stage is scan -> project; an Exchange
    // appearing here means the stats join regressed to a corpus shuffle
    import graft.pipeline.Quantize
    val w = Quantize.whiten(Tables.embeddings(spark, d), "vec_id",
      "embedding")
    w.collect()
    val p = w.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("qa4: audit broadcasts carry the query side only — no corpus float vector enters any broadcast, rollup shuffles are vector-free") {
    // recallAudit's overlay claim: each leg keeps its own gated shape,
    // and the audit itself adds only the k-bounded approx broadcast plus
    // an integer rollup. Typed-exchange asserts: any float array in a
    // broadcast is the query-side `qv` (sample-scale, both legs hint it
    // explicitly), never the corpus `v`; no shuffle moves a float array
    // (the overlap/rollup exchanges carry (q_id, nb_id, hits) only).
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val df = SparkEntry.queries("qa4")(spark, d)
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    val bcasts = all.collect { case e: BroadcastExchangeExec => e }
    assert(bcasts.nonEmpty,
      df.queryExecution.executedPlan.toString.take(3000))
    for (e <- bcasts; a <- e.output if isFloatArray(a.dataType))
      assert(a.name == "qv",
        s"broadcast carries corpus-side float array $a: ${e.simpleString(20)}")
    for (e <- all.collect { case e: ShuffleExchangeExec => e };
         a <- e.output)
      assert(!isFloatArray(a.dataType),
        s"audit shuffle carries float array $a: ${e.simpleString(20)}")
  }

  test("qa5: the epoch shuffle moves one narrow exchange — (doc_id, hash) longs, never the text") {
    // epochShuffle's scale claim: the only exchange carries ~16-byte
    // rows at any corpus size, and the scan prunes to the id column
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.LongType
    val df = SparkEntry.queries("qa5")(spark, d)
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    val shuffles = all.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1,
      df.queryExecution.executedPlan.toString.take(3000))
    for (a <- shuffles.head.output)
      assert(a.dataType == LongType,
        s"epoch shuffle carries non-long $a")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.take(2000))
  }

  test("qa7: the survivor stage is scan -> broadcast anti-join — zero shuffles, the broadcast carries ids only") {
    // fuzzyDecontaminate's scale claim: the pair screen hides behind its
    // checkpoint (its exchange shapes are the gated dedup tier's), and
    // the visible survivor plan must move NOTHING corpus-sized — the
    // contaminated-id set broadcasts, the corpus text stays in its scan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val df = SparkEntry.queries("qa7")(spark, d)
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    assert(all.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      df.queryExecution.executedPlan.toString.take(3000))
    val bcasts = all.collect { case e: BroadcastExchangeExec => e }
    assert(bcasts.nonEmpty,
      df.queryExecution.executedPlan.toString.take(3000))
    for (e <- bcasts; a <- e.output)
      assert(a.dataType == org.apache.spark.sql.types.LongType,
        s"anti-join broadcast carries non-id $a")
  }

  test("qa8: the sketch counters broadcast and the cut is a TakeOrdered — no global sort exchange, no corpus-scale counter shuffle") {
    // countMinTopK's scale claims: the counter table (depth x width,
    // bounded) reaches the estimate join as a broadcast, and the final
    // top-k is per-partition TakeOrdered, never an orderBy exchange
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val df = SparkEntry.queries("qa8")(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(3000))
    val all = planNodes(df.queryExecution.executedPlan)
    assert(all.collect { case e: BroadcastExchangeExec => e }.nonEmpty,
      plan.take(3000))
  }

  test("qf5: serving from the maintained counter table keeps qa8's shape — counters broadcast, TakeOrdered cut, bucketed table scan") {
    // the persisted tier must not LOSE the scan-per-run tier's plan
    // guarantees: the merged counter table (bounded rows) reaches the
    // estimate join as a broadcast, the cut stays per-partition
    // TakeOrdered, and the counter scan reads the bucketed layout
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val df = SparkEntry.queries("qf5")(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(3000))
    val all = planNodes(df.queryExecution.executedPlan)
    assert(all.collect { case e: BroadcastExchangeExec => e }.nonEmpty,
      plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
  }

  test("qfa: the grouped-profile probe has no single-partition stage — the rank walk partitions by group") {
    // the per-hour profile is the widest grouped sketch (720 groups);
    // its windows and joins must all partition by the group key — an
    // Exchange SinglePartition anywhere would be the corpus-funnel
    // anti-pattern the ungrouped tier is explicitly exempted from
    // (bounded rows) but the grouped tier must never reintroduce
    val df = SparkEntry.queries("qfa")(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
  }

  test("q90: overlap shuffles carry (source, gram-hash), never the text") {
    // q90's result is checkpointed (materializeThenRelease), so assert on
    // the reconstructed postings + intersection stage, as the q31 test
    // does for signatures: every exchange moves (group, 8-byte hash) rows;
    // the document body appearing in any exchange is the scale regression
    import graft.pipeline.{Dedup, Portable}
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val gs = docs.select(col("source").as("g"),
        explode(Dedup.shingles(col("text"), 4)).as("s"))
      .select(col("g"), Portable.hash60Fast(col("s")).as("sh"))
      .distinct()
    val inter = gs.as("a").join(gs.as("b"),
        col("a.sh") === col("b.sh") && col("a.g") < col("b.g"))
      .groupBy(col("a.g"), col("b.g")).agg(count(lit(1)))
    inter.collect()
    val p = inter.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange"))
      .mkString("\n")
    assert(exchanges.nonEmpty, p.take(3000))
    assert(!exchanges.contains("text#"), exchanges)
  }

  test("q81: the vocabulary rank is two-level — no single-partition exchange") {
    // a global row_number window would funnel the whole vocabulary
    // through Exchange SinglePartition; the (cnt, prefix)-bucketed rank
    // + broadcast offsets must leave no single-partition stage anywhere
    val p = plan("q81_encode")
    assert(!p.contains("SinglePartition"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("qb1: BM25 shuffles carry terms and numbers only — document bodies never move, the query-term restriction broadcasts") {
    // bm25TopK's scale claim: the distinct query-term set broadcasts and
    // candidate-restricts everything, so the only strings in any shuffle
    // are single terms (postings-scale); the full `text`/`qtext` body in
    // an exchange is the scale regression. Typed-exchange asserts, plus
    // the per-query cut is the bounded-state partial agg, never a
    // corpus-window sort (no SinglePartition anywhere).
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("qb1")(spark, d)
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    val shuffles = all.collect { case e: ShuffleExchangeExec => e }
    val bcasts = all.collect { case e: BroadcastExchangeExec => e }
    assert(shuffles.nonEmpty && bcasts.nonEmpty,
      df.queryExecution.executedPlan.toString.take(3000))
    for (e <- shuffles; a <- e.output if a.dataType == StringType)
      assert(a.name == "term",
        s"shuffle carries non-term string $a: ${e.simpleString(20)}")
    // the per-query cut must be the TopKAggregator partial-agg path, not
    // a window row_number (which would sort a popular term's whole
    // candidate set through one task). The corpus-stats scalar agg's
    // SinglePartition finish is fine — one row per task feeds it.
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("topkaggregator"), p.take(4000))
    // ADVICE r21: bm25TopK eagerly checkpoints the candidate-postings
    // frame, so the executed probe plan above starts at the cached RDD
    // and no longer shows the corpus tokenize/explode/restrict stage —
    // gate the PRE-CHECKPOINT plan too: the dominant corpus-side stage
    // must still never move a document body through an exchange, and
    // the query-term restriction must still broadcast
    import graft.pipeline.TextAnalysis
    val docs = Tables.documents(spark, d)
    val qs = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
      .selectExpr("doc_id AS q_id",
        "array_join(slice(filter(split(text, ' '), w -> length(w) > 0), 1, 8), ' ') AS qtext")
    val tfPre = TextAnalysis.bm25CandidateTf(docs, "doc_id", "text",
      TextAnalysis.bm25QueryTerms(qs, "q_id", "qtext"))
    tfPre.collect()
    val preNodes = planNodes(tfPre.queryExecution.executedPlan)
    val preShuffles = preNodes.collect { case e: ShuffleExchangeExec => e }
    assert(preNodes.collect {
      case e: BroadcastExchangeExec => e }.nonEmpty,
      tfPre.queryExecution.executedPlan.toString.take(3000))
    for (e <- preShuffles; a <- e.output if a.dataType == StringType)
      assert(a.name == "term",
        s"pre-checkpoint corpus stage shuffles non-term string $a: " +
          e.simpleString(20))
  }

  test("qb3: the persisted postings index joins in bucketed layout — stored side never re-shuffles, probe exchanges stay candidate-scale") {
    // writeBm25Index/bm25TopKIndexed's scale claim: the probe reads the
    // term-bucketed postings with Bucketed: true, the query-term
    // restriction is a broadcast into that scan, and the only
    // hashpartitioning exchanges are the candidate-scale score/top-k
    // aggs (2) — a third would mean the stored postings re-shuffled
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.documents(spark, d)
    val qs = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
      .selectExpr("doc_id AS q_id",
        "array_join(slice(filter(split(text, ' '), w -> length(w) > 0), 1, 8), ' ') AS qtext")
    try {
      // inside the try: a failed build must still hit the finally DROPs
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "qb3_plan_idx")
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
        "qb3_plan_idx", k = 10)
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), p.take(4000))
      // the query-term set reaches the postings scan as a pushed In
      // predicate — parquet's bloom filter on term (MapFiles.write
      // enables it on the key) + min/max stats then skip non-matching
      // row groups, so the probe reads a fraction of the postings
      assert(p.contains("In(term"), p.take(4000))
      // the direct claim: no shuffle moves the stored postings rows —
      // (dl, tf) together are the postings payload; the score shuffle
      // carries (q_id, doc_id, sum), the df/term-distinct shuffles carry
      // (term[, count]) partials, so none trips this. A bound on the
      // count too: score agg + top-k agg + query-term distinct + the
      // candidate-vocabulary df agg = 4.
      val shuffles = planNodes(probe.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
      for (e <- shuffles) {
        val names = e.output.map(_.name).toSet
        assert(!(names.contains("dl") && names.contains("tf")),
          s"stored postings re-shuffled: ${e.simpleString(20)}")
        for (a <- e.output if a.dataType == StringType)
          assert(a.name == "term",
            s"probe shuffle carries non-term string $a: ${e.simpleString(20)}")
      }
      assert(shuffles.size <= 4,
        s"unexpected probe shuffles (${shuffles.size}):\n" + p.take(4000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS qb3_plan_idx")
      spark.sql("DROP TABLE IF EXISTS qb3_plan_idx_s")
    }
  }

  test("qc1: the probe keeps its bucketed-scan properties over an APPENDED index") {
    // the append's silent-failure mode: bucketed files from TWO write
    // generations in the same table — if the appended files broke the
    // bucket metadata, the probe would fall back to an unbucketed scan
    // (losing pruning) or re-shuffle the stored side. Same asserts as
    // the qb3 plan test, on the grown table.
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, d)
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .selectExpr("doc_id AS q_id",
        "array_join(slice(filter(split(text, ' '), w -> length(w) > 0), 1, 8), ' ') AS qtext")
    try {
      TextAnalysis.writeBm25Index(docs.filter(col("doc_id") < 25),
        "doc_id", "text", "qc1_plan_idx")
      TextAnalysis.appendBm25Index(docs.filter(col("doc_id") >= 25),
        "doc_id", "text", "qc1_plan_idx")
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
        "qc1_plan_idx", k = 10)
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), p.take(4000))
      assert(p.contains("In(term"), p.take(4000))
      val shuffles = planNodes(probe.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
      for (e <- shuffles) {
        val names = e.output.map(_.name).toSet
        assert(!(names.contains("dl") && names.contains("tf")),
          s"appended postings re-shuffled: ${e.simpleString(20)}")
      }
      assert(shuffles.size <= 4,
        s"unexpected probe shuffles (${shuffles.size}):\n" + p.take(4000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS qc1_plan_idx")
      spark.sql("DROP TABLE IF EXISTS qc1_plan_idx_s")
    }
  }

  test("qb6: phrase-search shuffles carry single tokens and positions only — document bodies never move") {
    // phraseMatches' scale claim: both term sets broadcast-restrict the
    // positional postings before the adjacency join, so every string in
    // any exchange is a single token (term/b_term on the postings, the
    // t1/t2 phrase words riding with the broadcast query attach) —
    // never the text or qtext body
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("qb6")(spark, d)
    df.collect()
    val ok = "term|[tw]\\d+".r
    for (e <- planNodes(df.queryExecution.executedPlan)
           .collect { case e: ShuffleExchangeExec => e };
         a <- e.output if a.dataType == StringType)
      assert(ok.matches(a.name),
        s"phrase shuffle carries non-token string $a: ${e.simpleString(20)}")
  }

  test("qb7: hybrid serving reads both persisted indexes bucketed — no float array in any shuffle, shuffle strings are single terms") {
    // the production capstone's scale claims: both legs consume their
    // write-once bucketed indexes (Bucketed: true present), the dense
    // probe packs query vectors to int codes BEFORE its co-partitioning
    // exchange (so no shuffle carries a float array), the lexical leg
    // keeps qb3's token-only-shuffle contract, and the fusion moves
    // rank lists only
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("qb7")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), p.take(4000))
    for (e <- planNodes(df.queryExecution.executedPlan)
           .collect { case e: ShuffleExchangeExec => e }) {
      for (a <- e.output)
        assert(!isFloatArray(a.dataType),
          s"hybrid shuffle carries float array $a: ${e.simpleString(20)}")
      for (a <- e.output if a.dataType == StringType)
        assert(a.name == "term",
          s"hybrid shuffle carries non-term string $a: ${e.simpleString(20)}")
    }
  }

  test("qb2: the fusion consumes rank lists only — no float array in any shuffle, broadcasts carry at most the query-side vectors") {
    // rrfFuse's scale claim: by fusion time both legs are queries x k
    // rank lists, so nothing corpus-sized moves; the dense leg keeps
    // bruteForceTopK's own contract (query vectors broadcast, corpus
    // vectors never leave their scan) and the lexical leg keeps qb1's
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val df = SparkEntry.queries("qb2")(spark, d)
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    for (e <- all.collect { case e: ShuffleExchangeExec => e }; a <- e.output)
      assert(!isFloatArray(a.dataType),
        s"fusion shuffle carries float array $a: ${e.simpleString(20)}")
    for (e <- all.collect { case e: BroadcastExchangeExec => e };
         a <- e.output if isFloatArray(a.dataType))
      assert(a.name == "qv",
        s"broadcast carries corpus-side float array $a: ${e.simpleString(20)}")
  }

  test("qc2: the relational screen pushes to the metadata scan; candidates broadcast, the corpus never does") {
    // the production-stack claims: (1) the label predicate reaches the
    // embeddings parquet scan as a pushed filter — the screen pays a
    // pruned metadata read, not a post-hoc filter over a full scan;
    // (2) the screen's join direction holds — query-scale candidate
    // lists broadcast INTO that scan (never the corpus outward), so
    // every broadcast stays candidate-sized; (3) no shuffle anywhere in
    // the stack carries a float array (both legs keep their indexed
    // probes' contracts through the composition).
    val df = planDf("qc2")
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("LessThan(label,3)") && p.contains("PushedFilters"),
      p.take(4000))
    assertVectorFreeExchanges(df)
    // direction, asserted: the metadata (label) scan is never the
    // broadcast build side — only candidate/rank-list frames broadcast
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    for (e <- planNodes(df.queryExecution.executedPlan)
           .collect { case b: BroadcastExchangeExec => b })
      assert(!e.output.exists(_.name == "label"),
        s"metadata scan broadcast outward: ${e.simpleString(20)}")
    // r13: the phrase leg probes the persisted postings index — no
    // positional unpack of document text remains anywhere in the stack
    // (the r12 corpus-wide `posexplode(words(text))` this replaces);
    // the only surviving explodes are query-side term sets and the
    // stored `positions` arrays (plain Explode, no text reference)
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    for (g <- planNodes(df.queryExecution.executedPlan)
           .collect { case g: GenerateExec => g }
         if g.boundGenerator.isInstanceOf[PosExplode])
      assert(!g.boundGenerator.references.exists(_.name == "text"),
        s"phrase stage still posexplodes document text: ${g.simpleString(20)}")
  }

  test("qc2 phrase leg: phraseMatchesIndexed reads only the postings index — terms pushed, candidates broadcast, no document scan") {
    // the indexed verification's own plan, isolated from the registry
    // stack with memory-backed queries/candidates so every file scan in
    // the plan must be the bucketed postings table: (1) the phrase
    // terms reach the stored scan as a pushed In predicate; (2) the
    // candidate restriction is a broadcast semi-join (the query-scale
    // side broadcasts, never the index); (3) no scan of the documents
    // parquet appears anywhere — the corpus posexplode class is
    // structurally impossible, not merely avoided
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    // assert on the package-visible scan stage (phrasePostIndexed,
    // the svFracCandidates convention) with a hand-built phrase-word
    // frame (q_id, t0, t1) of real corpus terms
    val qp = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
      .selectExpr("doc_id AS q_id",
        "filter(split(text, ' '), w -> length(w) > 0) AS ws")
      .selectExpr("q_id", "ws[0] AS t0", "ws[1] AS t1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.toDF("q_id", "t0", "t1")
    val cands = (0L until 50L).toDF("doc_id")
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "phr_plan_idx")
      val (_, probe) = TextAnalysis.phrasePostIndexed(qp, "phr_plan_idx",
        cands, "doc_id", n = 2)
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("In(term"), p.take(4000))
      val scans = planNodes(probe.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, "no file scan found — assert would be vacuous")
      for (s <- scans)
        assert(s.relation.location.rootPaths.forall(
            _.toString.contains("phr_plan_idx")),
          s"probe scans a non-index file: ${s.simpleString(20)}")
      // the candidate/semi restriction joins broadcast — the stored
      // side is never the shuffled side of any join
      assert(planNodes(probe.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]), p.take(4000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS phr_plan_idx")
      spark.sql("DROP TABLE IF EXISTS phr_plan_idx_s")
    }
  }

  test("qd3: the tombstone-consulting probe keeps the bucketed scan, pushes terms, and anti-joins tombstones by broadcast") {
    // the deletion tier's scale claims on the REGISTRY query: the
    // committed-generation semi-join and the tombstone anti-join are
    // both broadcasts (delete-batch-sized builds), the stored postings
    // still scan bucketed with the query-term In pushdown, and no
    // shuffle moves the postings payload — logical deletion must not
    // cost the probe its index shape
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = planDf("qd3")
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), p.take(4000))
    assert(p.contains("In(term"), p.take(4000))
    val antis = planNodes(df.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec
        if j.joinType.toString == "LeftAnti" => j
    }
    assert(antis.nonEmpty, "no broadcast anti-join — tombstones unused?")
    for (e <- planNodes(df.queryExecution.executedPlan)
           .collect { case s: ShuffleExchangeExec => s }) {
      val names = e.output.map(_.name).toSet
      assert(!(names.contains("dl") && names.contains("tf")),
        s"stored postings re-shuffled: ${e.simpleString(20)}")
    }
  }

  test("qd2: the probe keeps its bucketed-scan properties over a COMPACTED index") {
    // the compaction rewrite swaps the table's files behind its name —
    // the probe must still scan bucketed with the query-term In
    // pushdown and no postings-payload shuffle (the qb3/qc1 asserts
    // carried to the third lifecycle state)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = planDf("qd2")
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), p.take(4000))
    assert(p.contains("In(term"), p.take(4000))
    for (e <- planNodes(df.queryExecution.executedPlan)
           .collect { case s: ShuffleExchangeExec => s }) {
      val names = e.output.map(_.name).toSet
      assert(!(names.contains("dl") && names.contains("tf")),
        s"compacted postings re-shuffled: ${e.simpleString(20)}")
    }
  }

  test("qd1: the indexed phrase probe never unpacks document text — generators touch query terms and stored positions only") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    val df = planDf("qd1")
    for (g <- planNodes(df.queryExecution.executedPlan)
           .collect { case g: GenerateExec => g }
         if g.boundGenerator.isInstanceOf[PosExplode])
      assert(!g.boundGenerator.references.exists(_.name == "text"),
        s"phrase probe posexplodes document text: ${g.simpleString(20)}")
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("In(term"), p.take(4000))
  }

  test("bm25 probe plan prunes the positions column — ReadSchema carries no array") {
    // the r13 positions column must be free for BM25 scoring: column
    // pruning keeps it out of the probe's parquet read, so the stored
    // arrays cost phrase probes only, never the scoring path
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    // real corpus terms: a no-hit query would let AQE collapse the
    // index scan to an empty relation and void the assert
    val qs = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .selectExpr("doc_id + 9 AS q_id",
        "array_join(slice(filter(split(text, ' '), w -> length(w) > 0), 1, 4), ' ') AS qtext")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("q_id", "qtext")
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "prune_plan_idx")
      val probe = TextAnalysis.bm25TopKIndexed(qs, "q_id", "qtext",
        "prune_plan_idx", k = 3)
      probe.collect()
      val idxScans = planNodes(probe.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("prune_plan_idx")) => s }
      assert(idxScans.nonEmpty, "no index scan found — assert vacuous")
      for (s <- idxScans)
        assert(!s.output.exists(_.name == "positions"),
          s"BM25 probe reads positions: ${s.simpleString(20)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS prune_plan_idx")
      spark.sql("DROP TABLE IF EXISTS prune_plan_idx_s")
    }
  }

  test("qe4: the quantile sketch partial-aggregates map-side and prunes the scan to the value column") {
    // the bounded-state claim's plan face: the only corpus-wide work is
    // a scan -> project -> partial HashAggregate; the exchange carries
    // bucket rows (b_low, b_high, count), never the raw values — and
    // the parquet read prunes to `value` alone
    val df = planDf("qe4")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial"),
      p.take(3000))
    assert(p.contains("ReadSchema") && p.contains("value") &&
      !p.contains("props") && !p.contains("event_type"), p.take(3000))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val bucketShuffles = planNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec
        if (s.outputPartitioning match {
          case h: HashPartitioning => h.expressions.exists(
            _.references.exists(_.name == "b_low"))
          case _ => false
        }) => s }
    assert(bucketShuffles.nonEmpty,
      "no bucket-keyed exchange found — assert vacuous")
    for (e <- bucketShuffles; a <- e.output)
      assert(Seq("b_low", "b_high").contains(a.name) ||
        a.name.startsWith("count"),
        s"sketch exchange carries $a: " + e.simpleString(20))
  }

  test("qe6: the conjunctive probe keeps the disjunctive plan shape — terms pushed to the stored scan, no extra exchange") {
    // conjunction is a filter on candidate aggregates, so its plan must
    // be the qb3 probe's plan plus nothing: same In(term) pushdown on
    // the bucketed index scan, and no additional shuffle (the nq side
    // joins as a broadcast)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val conj = planDf("qe6")
    val p = conj.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(term"),
      p.take(3000))
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      planNodes(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeExec => s }.size
    val disj = planDf("qb3")
    assert(shuffles(conj) <= shuffles(disj),
      s"conjunctive probe added exchanges: ${shuffles(conj)} > ${shuffles(disj)}")
  }

  test("qc2 over-retrieval depths derive from the measured label selectivity — integer ceil, clamped, 4x/1x margins") {
    // the r14 verdict's item 7: the production stack's depths were
    // hand constants; they now derive from counts (the ivfParams
    // discipline) so the post-filter k survives at any selectivity.
    // This pins the derivation — k_final = 5 (qb2K), lexical margin 4x
    // (its survivors also pass the phrase screen), dense margin 1x,
    // ceil(a/b) = (a+b-1) div b, clamps [2k,200]/[k,40] — so a drive-by
    // edit to either engine's formula turns a spec red, not a silent
    // oracle mismatch.
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, d)
    val total = vecs.count()
    val pass = vecs.filter(col("label") < 3).count()
    val (lex, dense) = RelationalQueries.qc2Depths(spark, d)
    assert(lex ==
      math.min(200L, math.max(10L, (20L * total + pass - 1) / pass)).toInt,
      s"lex depth $lex diverged from the pinned derivation")
    assert(dense ==
      math.min(40L, math.max(5L, (5L * total + pass - 1) / pass)).toInt,
      s"dense depth $dense diverged from the pinned derivation")
    // sanity of intent: expected label-screen survivors cover the
    // fused top-k with the documented margins
    assert(lex.toLong * pass >= 20L * total - pass &&
      dense.toLong * pass >= 5L * total - pass)
  }

  test("qc2 depth derivation reads ONLY the maintained count table — no embeddings scan per run (r15 verdict item 3)") {
    // the depths are two integers that change only when the corpus
    // does; at 100 TB a per-query-batch count(*) over embeddings is a
    // full column scan for a constant. The derivation now reads a
    // two-row maintained SUM-monoid table; structurally, no scan in
    // its plan may touch the corpus parquet.
    import org.apache.spark.sql.execution.FileSourceScanExec
    RelationalQueries.qc2Depths(spark, d) // builds the table via buildOnce
    val inputs = RelationalQueries.qc2DepthInputs(spark, d)
    val scans = planNodes(inputs.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no file scan found — assert would be vacuous")
    for (s <- scans; p <- s.relation.location.rootPaths)
      assert(p.toString.contains("warehouse") &&
          p.toString.contains("qc2_sel_"),
        s"qc2 depth derivation scans a non-maintained source: $p")
  }

  test("qc2 depth memo invalidates when the maintained count table grows (r16 verdict item 8)") {
    // the memo was keyed by source dir alone: fine under an immutable
    // corpus, silently stale the moment the engine's own append story
    // grows the count table in-place. It is now keyed by the table's
    // file snapshot, so any mutation re-derives the depths.
    import graft.pipeline.MergeTables
    import spark.implicits._
    val before = RelationalQueries.qc2Depths(spark, d)
    val table = RelationalQueries.qc2SelTable(spark, d)
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, d)
    val (total, pass) = (vecs.count(),
      vecs.filter(col("label") < 3).count())
    // grow the PASS group tenfold past the corpus: the selectivity
    // ratio collapses toward 1, which must move both depths
    val x = 10L * total
    try {
      MergeTables.append(Seq((1L, x)).toDF("g", "cnt"), table)
      val after = RelationalQueries.qc2Depths(spark, d)
      val (t2, p2) = (total + x, pass + x)
      assert(after == (
          math.min(200L, math.max(10L, (20L * t2 + p2 - 1) / p2)).toInt,
          math.min(40L, math.max(5L, (5L * t2 + p2 - 1) / p2)).toInt),
        s"depths $after not re-derived from the grown counts")
      assert(after != before,
        "the growth was supposed to move the depths — vacuous test")
    } finally {
      // additive RETRACTION restores the stored counts exactly; the
      // generation count moves again, so the memo re-derives
      MergeTables.append(Seq((1L, -x)).toDF("g", "cnt"), table)
    }
    assert(RelationalQueries.qc2Depths(spark, d) == before,
      "retraction did not restore the original depths")
  }

  test("qc2 depth memo survives a compaction that collapses the generation count (the non-injective-key collision)") {
    // the first staleness fix keyed the memo by the GENERATION COUNT —
    // not injective: a compaction collapses the table back to one
    // generation, colliding with an entry memoized at one generation
    // earlier in the process and serving depths derived from the OLD
    // counts. The file-snapshot key changes on every rewrite, so the
    // sequence compact -> append -> compact must serve the GROWN
    // depths after the second compaction, not the pre-append memo.
    import graft.pipeline.MergeTables
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = RelationalQueries.qc2SelTable(spark, d)
    def compactNow(): Unit = MergeTables.compact(spark, table, "g",
      MergeTables.mergedSum(spark, table, Seq("g"), "cnt"))
    compactNow() // one generation; memoize the pre-append depths
    val before = RelationalQueries.qc2Depths(spark, d)
    val vecs = Tables.embeddings(spark, d)
    val x = 10L * vecs.count()
    try {
      MergeTables.append(Seq((1L, x)).toDF("g", "cnt"), table)
      val grown = RelationalQueries.qc2Depths(spark, d)
      assert(grown != before, "growth was supposed to move the depths")
      compactNow() // back to ONE generation — the colliding key
      assert(RelationalQueries.qc2Depths(spark, d) == grown,
        "memo served stale pre-append depths after the generation " +
          "count collapsed back to a previously-memoized value")
    } finally {
      MergeTables.append(Seq((1L, -x)).toDF("g", "cnt"), table)
    }
    assert(RelationalQueries.qc2Depths(spark, d) == before,
      "retraction did not restore the original depths")
  }

  test("qc2 depth snapshot read heals a crashed compaction on the count table (ADVICE r17)") {
    // the snapshot key was read with a bare inputFiles listing: the
    // first read after a compactor crashed mid-swap (shadow written,
    // live table dropped) threw table-not-found where every other
    // consumer of the maintained tier heals the window first. The read
    // now goes through MergeTables.freshInputFiles.
    import graft.pipeline.MergeTables
    val before = RelationalQueries.qc2Depths(spark, d)
    val table = RelationalQueries.qc2SelTable(spark, d)
    // crash window by hand: compact's shadow write + DROP, no rename
    MergeTables.write(
      MergeTables.mergedSum(spark, table, Seq("g"), "cnt"),
      "g", table + "_compact_shadow")
    spark.sql(s"DROP TABLE `$table`")
    assert(!spark.catalog.tableExists(table))
    assert(RelationalQueries.qc2Depths(spark, d) == before,
      "depth derivation did not heal the crashed compaction")
    assert(spark.catalog.tableExists(table) &&
      !spark.catalog.tableExists(table + "_compact_shadow"))
  }

  test("qfd: the dataset card reads ONLY the maintained tables — no corpus scan anywhere in the probe plan") {
    // the capstone's structural claim: all four legs (length quantiles,
    // audit-token frequencies, distinct-token estimates, holdout ids)
    // serve from bounded persisted state, so the card costs table-sized
    // work no matter the corpus. Every file scan in the executed plan
    // must be one of the maintained tables — a scan of the documents
    // parquet (or any testdata path) is the recompute-per-run class
    // this row exists to rule out. The audit tokens are LITERALS, which
    // is what makes the frequency leg possible without a vocabulary
    // pass.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val card = planDf("qfd")
    val scans = planNodes(card.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no file scan found — assert would be vacuous")
    // every scan path must be one of the maintained tables (warehouse
    // paths carry the table name); the corpus would appear as
    // .../documents.parquet and match nothing here
    val tables = Seq("qfd_len_", "qfd_hll_", "qfb_gcm_", "qf9_gsmp_")
    for (s <- scans; p <- s.relation.location.rootPaths)
      assert(tables.exists(t => p.toString.contains("warehouse") &&
          p.toString.contains(t)),
        s"dataset card scans a non-maintained source: $p")
    // the SELF-MAINTAINED card (qff), the POST-TAKEDOWN card (qfi),
    // and the UNATTENDED card (qfl) serve from their own four tables
    // with the same structural guarantee
    for (q <- Seq("qff", "qfi", "qfl")) {
      val df = planDf(q)
      val qScans = planNodes(df.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s }
      assert(qScans.nonEmpty)
      for (s <- qScans; p <- s.relation.location.rootPaths)
        assert(p.toString.contains("warehouse") &&
            p.toString.contains(q + "_"),
          s"$q card scans a non-maintained source: $p")
    }
  }

  /** The Spark jobs `body` starts, construction included — counted by a
    * listener over the jobs carrying this call's local-property tag
    * (broadcast and AQE stage jobs inherit it). A marker job after
    * `body` flushes the listener bus, which delivers in order. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = "planq-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(tag + "-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(tag + "-end"), "listener bus never drained")
      var n = 0
      seen.forEach(t => if (t == tag) n += 1)
      (out, n)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }

  test("served round: the batch ADC probe and the BM25 probe plan only work — no gcell probe shuffle, no commit semi-join, one postings scan, one shuffle, at most 4 jobs per probe") {
    // a serving batch (20 queries) against each persisted tier at the
    // DEFAULT broadcast threshold, warm (the first probe after a build
    // also reads the centroids into the quantizer broadcast). The ADC
    // probe's snapshot is a small local relation of packed probe rows
    // the planner broadcasts: a forced gcell repartition under it
    // would add a shuffle job and a 16-task broadcast collect that do
    // no work, and
    // the commit set is a predicate from the protocol snapshot, not a
    // LeftSemi join over a broadcast local table. The BM25 probe reads
    // the postings once (df is a window over the term-bucketed scan),
    // takes the corpus scalars as literals (no nested-loop cross join)
    // and scores and cuts on ONE q_id shuffle.
    import graft.pipeline.{Similarity, TextAnalysis}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, d)
    val docs = Tables.documents(spark, d)
    val qv = vecs.filter(col("vec_id") % 25 === 0)
    val qt = docs.filter(col("doc_id") % 25 === 0)
      .selectExpr("doc_id AS q_id",
        "array_join(slice(filter(split(text, ' '), w -> length(w) > 0), 1, 8), ' ') AS qtext")
    val (_, nprobe) = Similarity.ivfParams(vecs.count())
    try {
      Similarity.writeIvfAdcIndexSharded(vecs, "vec_id", "embedding",
        "planq_adc_idx", nShards = 2)
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "planq_bm25_idx")
      val adcProbes = Seq[() => org.apache.spark.sql.DataFrame](
        () => Similarity.ivfAdcTopKIndexedSharded(qv, "vec_id",
          "embedding", k = 10, "planq_adc_idx"),
        () => Similarity.ivfAdcTopKIndexedShardedTuned(qv, "vec_id",
          "embedding", k = 10, "planq_adc_idx",
          Seq.fill(2)(Similarity.ShardDials(nprobe, 0.0, 2, 0.0))))
      for (probe <- adcProbes) {
        probe().collect() // warm: the quantizer broadcast memo
        val (df, jobs) = jobsOf { val df = probe(); df.collect(); df }
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(!p.contains("Exchange hashpartitioning(gcell"),
          "the ADC probe side is shuffled on gcell:\n" + p.take(4000))
        assert(!p.contains("LeftSemi"),
          "the ADC commit set is a semi-join:\n" + p.take(4000))
        // the snapshot's codes are packed on the driver: no join choice
        // can re-run pack_quant per candidate
        assert(!p.contains("packquantexpr"),
          "the snapshot probe packs in the plan:\n" + p.take(4000))
        assert(p.contains("In(gcell"),
          "vacuous gate: no probed-cell In set:\n" + p.take(4000))
        assert(jobs <= 4, s"ADC probe ran $jobs jobs:\n" + p.take(4000))
      }
      val bm = () => TextAnalysis.bm25TopKIndexed(qt, "q_id", "qtext",
        "planq_bm25_idx", k = 10)
      bm().collect()
      val (df, jobs) = jobsOf { val df = bm(); df.collect(); df }
      val plan = df.queryExecution.executedPlan
      val p = plan.toString.split("== Initial Plan ==")(0)
      val postingScans = planNodes(plan).collect {
        case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table == "planq_bm25_idx") => s
      }
      assert(postingScans.size == 1,
        s"${postingScans.size} postings scans:\n" + p.take(4000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
      val exchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"$exchanges hash exchanges in the BM25 probe:\n" + p.take(4000))
      assert(jobs <= 4, s"BM25 probe ran $jobs jobs:\n" + p.take(4000))
    } finally {
      AdcKit.drop("planq_adc_idx")
      spark.sql("DROP TABLE IF EXISTS planq_bm25_idx")
      spark.sql("DROP TABLE IF EXISTS planq_bm25_idx_s")
    }
  }

  test("phrase probe at or under the caps: one construction job and the phrase terms pushed to the postings scan") {
    // the third persisted probe on the shared probe side: one bounded
    // snapshot of the phrase words is the whole construction, and
    // their terms reach the stored scan as an In list
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, d)
    val qt = docs.filter(col("doc_id") % 25 === 0)
      .selectExpr("doc_id AS q_id",
        "array_join(slice(filter(split(text, ' '), w -> length(w) > 0), 1, 8), ' ') AS qtext")
    try {
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", "planq_phr_idx")
      val probe = () => TextAnalysis.phraseMatchesIndexed(qt, "q_id",
        "qtext", "planq_phr_idx")
      probe().collect()
      val (df, jobs) = jobsOf(probe())
      df.collect()
      assert(jobs == 1, s"phrase probe construction ran $jobs jobs")
      // the scan metadata, not the plan string, which abbreviates it
      val pushed = planNodes(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec => s.metadata("PushedFilters")
      }
      assert(pushed.nonEmpty && pushed.forall(_.contains("In(term, [")),
        pushed.mkString("\n"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS planq_phr_idx")
      spark.sql("DROP TABLE IF EXISTS planq_phr_idx_s")
    }
  }
}
