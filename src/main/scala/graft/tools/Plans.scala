package graft.tools

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan evidence the optimization rounds commit under plans/<tag>/.
  * Usage:
  *   sbt "runMain graft.tools.Plans <sfDir> <outDir> <suffix> <q1,q2,...>"
  * Writes <outDir>/<query>_<suffix>.txt for each named query.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: Plans <sfDir> <outDir> <suffix> <q1,q2,...> [exec]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus)
    new java.io.File(outDir).mkdirs()
    // optional 5th arg "exec": compute the frame through the noop sink
    // first (guide §1.4), so with AQE the dump is the FINAL plan —
    // including runtime ReusedExchange / AQEShuffleRead nodes the
    // initial plan cannot show
    val exec = args.length > 4 && args(4) == "exec"
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      if (exec) df.write.format("noop").mode("overwrite").save()
      // queryExecution.explainString gives the same text explain() prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(txt) finally w.close()
      System.err.println(s"[plans] wrote ${f.getPath} (${txt.length} chars)")
    }
    spark.stop()
  }
}
