package graft.tools

import graft.Sweep
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: print the formatted physical plan + wall time of declared
  * queries. Usage: Explain <queryName>[,<queryName>…] [sfDir]
  * [explain|time|both]. The plans are printed in order: every plan the
  * query executes while it is built (artifact writes, checkpoints,
  * driver-side collects), then the plan of the returned frame. The plan
  * text is [[normalise]]d, so the plans printed by two builds — in one
  * session or in two checkouts — can be `diff`ed. A name that fails (or
  * is not declared) is reported, the rest still print, and the run exits
  * 1 naming every failure. */
object Explain {

  /** `plan` without what changes between two builds of one query:
    * expression ids, exchange plan ids, RDD ids, lambda-variable and
    * `_common_expr_` counters, source line numbers, the artifact root
    * path, UUIDs (the `.tmp-<uuid>` dir of an artifact being written, a
    * stream watermark's node id), the identity hash of a stream writer
    * and the class and identity of the JVM lambda a typed operator
    * (mapPartitions) prints. */
  private[graft] def normalise(plan: String): String = Seq(
    "#\\d+L?" -> "",
    "plan_id=\\d+" -> "plan_id",
    "RDD\\[\\d+\\]" -> "RDD",
    "(lambda \\w+?)_\\d+" -> "$1",
    "_common_expr_\\d+" -> "_common_expr",
    "\\.scala:\\d+" -> ".scala",
    "\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+" -> "\\$Lambda",
    java.util.regex.Pattern.quote(graft.Artifacts.root) -> "<artifacts>",
    "\\p{XDigit}{8}(-\\p{XDigit}{4}){3}-\\p{XDigit}{12}" -> "<uuid>",
    "((?:[\\w$]+\\.)+[\\w$]+)@\\p{XDigit}+\\b" -> "$1"
  ).foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  /** Records the [[normalise]]d plan of every query its session
    * executes, from registration until [[close]]. */
  private[graft] final class Executed(spark: SparkSession)
      extends QueryExecutionListener {
    private val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.listenerManager.register(this)
    private def add(qe: QueryExecution): Unit =
      plans.add(normalise(qe.explainString(FormattedMode)))
    def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)

    /** The plans executed since the last call, in order; the listener
      * bus is drained first, so none is still in flight. */
    def take(): Seq[String] = {
      GraftBridge.drainListeners(spark)
      Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
    }

    def close(): Unit = spark.listenerManager.unregister(this)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "both"
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    val failed = names.flatMap { name =>
      println(s"== $name ==")
      val plan = if (mode == "time") Nil else {
        val executed = new Executed(spark)
        executed.take() // earlier queries' events still in flight
        try Sweep.run(spark, sfDir, Seq(name), "EXPLAIN") { (_, df) =>
          for ((p, i) <- executed.take().zipWithIndex)
            println(s"-- build plan ${i + 1} --\n$p")
          println(normalise(df.queryExecution.explainString(FormattedMode)))
        } finally executed.close()
      }
      // rebuild the df EVERY run: construction is part of a query's cost
      // (streaming queries drain their readStream there, sink queries write
      // artifacts), and re-counting one df object lets Spark reuse shuffle
      // map outputs across runs — both flatter the timing vs what
      // graft.Bench (and the driver) actually charge per sweep
      val runs = if (mode == "explain" || Sweep.failed(plan).nonEmpty) Nil
        else Sweep.run(spark, sfDir, Seq.fill(3)(name), "EXPLAIN")((_, df) => df.count())
      for ((r, i) <- runs.zipWithIndex; n <- r.value)
        println(f"run${i + 1}: ${r.secs}%.3f s ($n rows)")
      Sweep.failed(plan ++ runs)
    }
    Sweep.finish(spark, "EXPLAIN", failed.distinct)
  }
}
