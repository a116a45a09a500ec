package graft.tools

/** Pre-commit gate: replicates the driver's t1 smoke (entry() on a bare
  * session must return rows > 0), then EXECUTES every declared query at
  * sf0.001 and exits nonzero on any throw. Round 6 shipped a query that
  * was registered after the correctness sweep and had never run — this
  * loop makes that impossible: if it's in `SparkEntry.queries`, it runs
  * here before any snapshot commit (round-end checklist, COVERAGE.md).
  *
  * Also asserts the registry invariant the driver relies on: every
  * oracleSql key names a declared query (a dangling oracle would make the
  * driver's correctness file disagree with the registry).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"entry rows: $n (smoke ${if (n > 0) "PASS" else "FAIL"})")
    val dangling = graft.SparkEntry.oracleSql.keySet --
      graft.SparkEntry.queries.keySet
    require(dangling.isEmpty, s"oracleSql keys without a query: $dangling")
    println(s"queries: ${graft.SparkEntry.queries.size}, " +
      s"oracles: ${graft.SparkEntry.oracleSql.size}")
    var failed = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val rows = fn(spark, sfDir).count()
        println(f"PASS  $name%-40s $rows%6d rows")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(200)
        println(f"FAIL  $name%-40s $msg")
        failed ::= name
      }
    }
    spark.stop()
    if (failed.nonEmpty || n == 0) {
      System.err.println(s"SMOKE FAIL: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
    println(s"SMOKE PASS: all ${graft.SparkEntry.queries.size} queries executed")
  }
}
