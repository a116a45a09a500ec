package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/JIT + parquet reader so the first timed query isn't
    // charged Spark's one-time startup (~5 s)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try Tables.lineitem(spark, sfDir).limit(1).count() catch { case _: Throwable => }
    // min over two FULL sweeps: a single cold pass charges a query
    // whatever I/O or GC stall the box happens to throw at it (measured
    // 10-30x inflation of trivial projections under ambient load —
    // BASELINE.md). Sweep-separated passes put minutes between a query's
    // two timings, so one transient stall window cannot inflate both;
    // plans are rebuilt per pass, so no shuffle-output reuse flatters
    // the second. The min is the defensible per-query cost.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // a throwing query must be LOUD: round 6 let a broken query subtract
    // its -1.0 sentinel from the total and still exit 0. Failures now go
    // to stderr immediately, into an "errors" JSON field, are excluded
    // from value/n_queries, and flip the exit code.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    def sweep(): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val t = try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
              catch { case e: Throwable =>
                val msg = s"${e.getClass.getSimpleName}: " +
                  Option(e.getMessage).getOrElse("").linesIterator
                    .take(1).mkString.take(200)
                System.err.println(s"BENCH FAIL $name — $msg")
                failures.getOrElseUpdate(name, msg); -1.0 }
      name -> t
    }
    val p1 = sweep().toMap
    val p2 = sweep().toMap
    val timed = ordered.map { case (name, _) =>
      val (a, b) = (p1(name), p2(name))
      name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    val results = timed.filter(_._2 >= 0)
    // millisecond precision: a 220-query map at full double precision is
    // ~10 KB and overflows the driver's tail-capture window (BENCH_r10
    // came back "parsed": null); 3 decimals keeps the whole line inside it
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val errs = timed.filter(_._2 < 0)
      .map { case (k, _) => jstr(s"$k: ${failures.getOrElse(k, "?")}") }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // field order matters to the DRIVER's artifact, not to JSON: its
    // bench log keeps the TAIL of this line, so the scalar summary
    // (errors, total, count, sf) sits after the long per-query map — a
    // truncated capture loses individual timings, never the headline
    val line = s"""{"metric":"total","unit":"sec","queries":$qs,""" +
      s""""errors":$errs,"n_queries":${results.size},"sf":"$sfDir",""" +
      s""""value":$total}"""
    // <200-byte summary WITHOUT the per-query map: the 259-query map
    // overflowed the driver's tail-capture window four rounds running
    // (BENCH_r10/r12/r13 all came back "parsed": null), and the r13
    // verdict suspects its parser also trips on the sbt "[info] "
    // prefix / first-line-only heuristics — so the BARE summary JSON
    // is now the FIRST bench output line (nothing before it to
    // truncate against) AND a committed file (no stdout parsing at
    // all), in addition to the marked lines below.
    val summary = s"""{"metric":"total","unit":"sec",""" +
      s""""errors":$errs,"n_queries":${results.size},"sf":"$sfDir",""" +
      s""""value":$total}"""
    println(summary)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/BENCH_SUMMARY.json"),
      summary + "\n")
    catch { case e: Throwable =>
      System.err.println(s"BENCH could not write BENCH_SUMMARY.json: " +
        e.getMessage)
    }
    println(line)
    // the driver parses the MARKED line (round-10 verdict: the bare line
    // was lost in the sbt tail); emit it LAST so a tail capture keeps it
    println(s"BENCH_JSON: $line")
    println(s"BENCH_SUMMARY: $summary")
    // the full JSON also goes to a file (BENCH_r08's captured tail was
    // all error text and the per-query map was unrecoverable) — default
    // BENCH_local.json in the repo root, overridable for round dumps
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_local.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"BENCH could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    if (timed.exists(_._2 < 0)) sys.exit(1)
  }
}
