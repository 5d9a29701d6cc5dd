package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` prepares the inputs,
  * launches this main, and turns the result file into metrics.
  *
  * Arguments (all required): `--workload dataflow|retrieval_serve
  * --seed N --seconds S --trace 0|1 --reps R --data DIR
  * --work DIR --out FILE`. One client thread drives `local[N]` with
  * `spark.sql.shuffle.partitions = N`, N = the processor count, so the
  * load is the program's and not the OS scheduler's. Everything the
  * program writes (tables, sinks, the warehouse) lands under `--work`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
    val rec = new Recorder(tracer)
    val run = Run(spark, opt("data"), work, opt("seed").toLong,
      opt("seconds").toDouble, opt("reps").toInt, rec)
    val result = workload match {
      case "dataflow" => Dataflow.run(run)
      case "retrieval_serve" => Retrieval.serve(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val kernels = if (tracer.enabled) Kernels.run(spark, run.seed) else Nil
    tracer.drain()
    val acc = tracer.listener.bySpan
    val spans = tracer.all.map { s =>
      val a = acc.get(s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        a.map(a => Map("jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "empty_tasks" -> a.emptyTasks,
          "failed_tasks" -> a.failedTasks, "cpu_ns" -> a.cpuNs,
          "run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "wait_ms" -> a.waitMs,
          "shuffle_read" -> a.shuffleRead,
          "shuffle_write" -> a.shuffleWrite, "spill" -> a.spill,
          "bytes_out" -> a.bytesOut,
          "job_ms" -> a.jobIntervals.map { case (s0, e) => Seq(s0, e) }))
          .getOrElse(Map.empty)
    }
    val out = Map("workload" -> workload, "cpus" -> cpus,
      "jvm_start_epoch_ms" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_epoch_ms" -> sessionReadyMs,
      "result_epoch_ms" -> System.currentTimeMillis(),
      "kernels" -> kernels, "spans" -> spans) ++ rec.summary ++ result
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      Json(out))
    spark.stop()
  }
}

/** What every workload needs: the session, its inputs and the recorder. */
final case class Run(spark: SparkSession, data: String, work: String,
    seed: Long, seconds: Double, reps: Int, rec: Recorder) {
  def trace[T](name: String)(body: => T): T = rec.tracer(name)(body)

  /** Wall seconds of `body`. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
