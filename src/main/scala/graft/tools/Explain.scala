package graft.tools

/** Dev tool: print the formatted physical plan + wall time of one declared
  * query. Usage: Explain <queryName> [sfDir] [explain|time|both] */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "both"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if (mode != "time")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    if (mode != "explain") {
      // rebuild the df EVERY run: construction is part of a query's cost
      // (streaming queries drain their readStream there, sink queries write
      // artifacts), and re-counting one df object lets Spark reuse shuffle
      // map outputs across runs — both flatter the timing vs what
      // graft.Bench (and the driver) actually charge per sweep
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}
