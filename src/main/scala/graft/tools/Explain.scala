package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print the formatted physical plan + wall time of declared
  * queries. Usage: Explain <queryName>[,<queryName>…] [sfDir]
  * [explain|time|both]. Expression ids (`#12`, `#7L`) and exchange
  * `plan_id`s are stripped from the plan text: they count up per
  * session, so without them the plans printed by two checkouts can be
  * `diff`ed. */
object Explain {

  /** `plan` without expression ids and plan ids. */
  private def stripIds(plan: String): String =
    plan.replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "plan_id")

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "both"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      println(s"== $name ==")
      if (mode != "time")
        println(stripIds(graft.SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)))
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
    }
    spark.stop()
  }
}
