package graft.tools

/** Ad-hoc stage profiler: runs one named SparkEntry query with stage-level
  * timing printed to stderr. Usage:
  *   sbt "runMain graft.tools.Profile <sfDir> <queryName> [explain]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus)
    val fn = graft.SparkEntry.queries(name)
    // warm
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val tBuild = (System.nanoTime() - t0) / 1e9
    if (args.length > 2 && args(2) == "explain") df.explain("formatted")
    val t1 = System.nanoTime()
    val n = df.count()
    val tCount = (System.nanoTime() - t1) / 1e9
    println(f"[profile] $name build=$tBuild%.2fs count=$tCount%.2fs rows=$n")
    // second run to separate warm-up effects
    val t2 = System.nanoTime()
    val n2 = fn(spark, sfDir).count()
    println(f"[profile] $name rerun=${(System.nanoTime() - t2) / 1e9}%.2fs rows=$n2")
    spark.stop()
  }
}
