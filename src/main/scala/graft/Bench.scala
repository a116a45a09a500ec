package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/JIT + parquet reader so the first timed query isn't
    // charged Spark's one-time startup (~5 s)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try Tables.lineitem(spark, sfDir).limit(1).count() catch { case _: Throwable => }
    // a query that throws in either timing pass is LOUD: it goes to
    // stderr at once and into the "errors" field, is excluded from
    // value/n_queries, and flips the exit code
    val timed = Sweep.timed(spark, sfDir, Sweep.names, "BENCH")
    val results = timed.collect { case Sweep.Result(k, t, Right(_)) => k -> t }
    // millisecond precision: a 220-query map at full double precision is
    // ~10 KB and overflows the driver's tail-capture window (BENCH_r10
    // came back "parsed": null); 3 decimals keeps the whole line inside it
    val qs = results.map { case (k, v) =>
      Verify.jsonString(k) + ":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    val errs = timed.collect { case Sweep.Result(k, _, Left(msg)) =>
      Verify.jsonString(s"$k: $msg") }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val sf = Verify.jsonString(sfDir)
    // field order matters to the DRIVER's artifact, not to JSON: its
    // bench log keeps the TAIL of this line, so the scalar summary
    // (errors, total, count, sf) sits after the long per-query map — a
    // truncated capture loses individual timings, never the headline
    val tail = s""""errors":$errs,"n_queries":${results.size},"sf":$sf,""" +
      s""""value":$total}"""
    val line = s"""{"metric":"total","unit":"sec","queries":$qs,$tail"""
    // <200-byte summary WITHOUT the per-query map: the 259-query map
    // overflowed the driver's tail-capture window four rounds running
    // (BENCH_r10/r12/r13 all came back "parsed": null), and the r13
    // verdict suspects its parser also trips on the sbt "[info] "
    // prefix / first-line-only heuristics — so the BARE summary JSON
    // is now the FIRST bench output line (nothing before it to
    // truncate against) AND a committed file (no stdout parsing at
    // all), in addition to the marked lines below.
    val summary = s"""{"metric":"total","unit":"sec",$tail"""
    def write(file: String, text: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(file), text + "\n")
      catch { case e: Throwable =>
        System.err.println(s"BENCH could not write $file: ${e.getMessage}")
      }
    println(summary)
    write("BENCH_SUMMARY.json", summary)
    println(line)
    // the driver parses the MARKED line (round-10 verdict: the bare line
    // was lost in the sbt tail); emit it LAST so a tail capture keeps it
    println(s"BENCH_JSON: $line")
    println(s"BENCH_SUMMARY: $summary")
    // the full JSON also goes to a file (BENCH_r08's captured tail was
    // all error text and the per-query map was unrecoverable) — default
    // BENCH_local.json in the working directory, overridable for round dumps
    write(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json"), line)
    Sweep.finish(spark, "BENCH", Sweep.failed(timed))
  }
}
