package graft.tools

import org.apache.spark.sql.functions._
import graft.pipeline.Similarity

/** Per-call ADC state snapshot and fraction-law probe times, with the
  * serving TTL key off (0) and on (60000), alternating blocks: a
  * 2,000 × 64-d index with 2 shards, fresh 20-query batches, 150
  * warm-up probes, then 8 blocks of 25 probes per setting, each followed
  * by 25 fresh `svState` reads. Run from a checkout with this file
  * copied to `src/main/scala/graft/tools/`:
  * `sbt -batch "runMain graft.tools.ProbeTimes"`. Since r32 the key is
  * inert, so both settings measure the same code. */
object ProbeTimes {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.range(2000).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 16), 11, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 13, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    Similarity.writeIvfAdcIndexSharded(emb, "vec_id", "embedding",
      "scr_idx", nShards = 2)
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    def batch() = (0 until 20).map(i => (i.toLong,
      Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    def probe(): (Double, Double) = {
      val q = batch()
      val t0 = System.nanoTime()
      val df = Similarity.ivfAdcTopKIndexedSharded(q, "vec_id",
        "embedding", k = 3, "scr_idx")
      val t1 = System.nanoTime()
      df.collect()
      ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
    }
    def state(): Double = {
      val t0 = System.nanoTime()
      Similarity.svState(spark, "scr_idx").key
      (System.nanoTime() - t0) / 1e6
    }
    def setTtl(v: String): Unit =
      if (v == "0") spark.conf.unset("graft.adc.quantKeyTtlMs")
      else spark.conf.set("graft.adc.quantKeyTtlMs", v)
    for (_ <- 1 to 150) probe()
    for (_ <- 1 to 100) state()
    val settings = Seq("0", "60000")
    val probes = settings.map(_ -> collection.mutable.ArrayBuffer[(Double, Double)]()).toMap
    val states = collection.mutable.ArrayBuffer[Double]()
    for (block <- 1 to 8; s <- (if (block % 2 == 1) settings else settings.reverse)) {
      setTtl(s)
      for (_ <- 1 to 25) probes(s) += probe()
      setTtl("0")
      for (_ <- 1 to 25) states += state()
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def q(xs: Seq[Double], p: Double) = xs.sorted.apply((xs.size * p).toInt)
    println(f"svState fresh: median ${med(states.toSeq)}%.2f ms " +
      f"(q25 ${q(states.toSeq, 0.25)}%.2f, q75 ${q(states.toSeq, 0.75)}%.2f, n=${states.size})")
    for (s <- settings) {
      val c = probes(s).map(_._1).toSeq
      val t = probes(s).map(_._2).toSeq
      println(f"ttl=$s probe: median ${med(t)}%.1f ms (q25 ${q(t, 0.25)}%.1f, " +
        f"q75 ${q(t, 0.75)}%.1f), construction median ${med(c)}%.1f ms " +
        f"(q25 ${q(c, 0.25)}%.1f, q75 ${q(c, 0.75)}%.1f), n=${t.size}")
    }
    spark.stop()
  }
}
