package graft.tools

import graft.Sweep

/** Pre-commit gate, one pass over every declared query at sf0.001:
  *  - the driver's t1 smoke: entry() on a bare session returns rows > 0;
  *  - the registry invariant the driver relies on: every oracleSql key
  *    names a declared query (a dangling oracle would make the driver's
  *    correctness file disagree with the registry);
  *  - each query is built, its returned frame's executed plan is checked
  *    by [[PlanAudit]], and the frame is EXECUTED (`count()`). Round 6
  *    shipped a query registered after the correctness sweep that had
  *    never run — if it's in `SparkEntry.queries`, it runs here before
  *    any snapshot commit (round-end checklist, COVERAGE.md).
  * Prints `PLAN AUDIT PASS` and `SMOKE PASS`; exits 1 if either fails.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"entry rows: $n (smoke ${if (n > 0) "PASS" else "FAIL"})")
    val dangling = Counts.orphanOracles
    require(dangling.isEmpty, s"oracleSql keys without a query: $dangling")
    println(s"queries: ${Counts.declared}, oracles: ${Counts.oracled}")
    val results = Sweep.run(spark, sfDir, Sweep.names, "SMOKE") { (name, df) =>
      val flags = PlanAudit.undeclared(name,
        df.queryExecution.executedPlan.toString)
      if (flags.nonEmpty) println(f"$name%-40s UNDECLARED ${flags.mkString(",")}")
      println(f"PASS  $name%-40s ${df.count()}%6d rows")
      flags
    }
    // a query that threw was not (fully) audited: neither gate passes
    val thrown = Sweep.failed(results)
    val undeclared = results.collect {
      case Sweep.Result(name, _, Right(flags)) if flags.nonEmpty => name }
    if (thrown.isEmpty && undeclared.isEmpty) println("PLAN AUDIT PASS")
    if (thrown.isEmpty && n > 0)
      println(s"SMOKE PASS: all ${results.size} queries executed")
    Sweep.finish(spark, "SMOKE",
      (if (n > 0) Nil else Seq("entry")) ++ thrown ++ undeclared)
  }
}
