package graft

/** Dev tool: run one query by name with timing and an optional formatted
  * plan dump. `runMain graft.Explain <query> [sfDir] [explain|time|both]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "both"
    val spark = GraftSession.local()
    GraftSession.logSlowStages(spark)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (mode != "time") df.explain("formatted")
    if (mode != "explain") {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = df.count()
        println(f"[explain] run $i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
