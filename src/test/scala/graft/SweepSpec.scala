package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Sweep]]'s one failure policy, on a stub registry so no full query
  * pass runs here, plus Explain's plan normaliser on a real query. */
class SweepSpec extends SparkTestBase {

  private def ok(n: Int): Sweep.Query = (s: SparkSession, _: String) => s.range(n).toDF()
  private def boom(msg: String): Sweep.Query =
    (_: SparkSession, _: String) => throw new IllegalStateException(msg)

  test("a throw is recorded in Bench's format and later queries still run in order") {
    val stub = Map("a" -> ok(1), "b" -> boom("first line\nsecond line"),
      "c" -> ok(3), "d" -> boom("x" * 300))
    var ran = Vector.empty[String]
    val rs = Sweep.run(spark, sf0001, Seq("a", "b", "c", "d", "a"), "TEST", stub) {
      (name, df: DataFrame) => ran :+= name; df.count()
    }
    assert(rs.map(_.name) == Seq("a", "b", "c", "d", "a"))
    assert(ran == Vector("a", "c", "a"))
    assert(rs.map(_.value) == Seq(Right(1L), Left("IllegalStateException: first line"),
      Right(3L), Left("IllegalStateException: " + "x" * 200), Right(1L)))
    assert(Sweep.failed(rs) == Seq("b", "d"))
  }

  test("the failure line is plain ASCII and names the query and the message") {
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try Sweep.run(spark, sf0001, Seq("b"), "TEST", Map("b" -> boom("went wrong")))(
      (_, df) => df.count())
    finally System.setErr(prev)
    val line = new String(err.toByteArray, "UTF-8").linesIterator
      .find(_.startsWith("TEST FAIL b")).getOrElse(fail("no failure line logged"))
    assert(line.forall(_ < 128), s"non-ASCII failure line: $line")
    assert(line == "TEST FAIL b: IllegalStateException: went wrong")
  }

  test("a name that is not in the registry is a failure") {
    val rs = Sweep.run(spark, sf0001, Seq("q_typo", "a"), "TEST",
      Map("a" -> ok(2)))((_, df) => df.count())
    assert(rs.head.value == Left("NoSuchElementException: key not found: q_typo"))
    assert(rs(1).value == Right(2L))
    assert(Sweep.failed(rs) == Seq("q_typo"))
  }

  test("Bench's two-pass timing fails a query that throws in only one pass") {
    def flaky(throwOnCall: Int): Sweep.Query = {
      var calls = 0
      (s: SparkSession, d: String) => {
        calls += 1
        if (calls == throwOnCall) boom(s"call $calls")(s, d) else ok(4)(s, d)
      }
    }
    val rs = Sweep.timed(spark, sf0001, Seq("first", "steady", "second"), "TEST",
      Map("first" -> flaky(1), "steady" -> ok(5), "second" -> flaky(2)))
    assert(rs.map(_.value) == Seq(Left("IllegalStateException: call 1"),
      Right(5L), Left("IllegalStateException: call 2")))
    assert(Sweep.failed(rs) == Seq("first", "second"))
  }

  test("Explain's normaliser maps two builds of one localCheckpoint query to one text") {
    val plans = Sweep.run(spark, sf0001, Seq.fill(2)("q_dedup_minhash_lsh"), "TEST") {
      (_, df) => df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }.map(_.value.fold(e => fail(e), identity))
    assert(plans.head.contains("at localCheckpoint at"))
    // stripping expression and plan ids alone leaves RDD ids and lambda
    // counters that change between the two builds
    def idsOnly(p: String) =
      p.replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "plan_id")
    assert(idsOnly(plans.head) != idsOnly(plans(1)))
    assert(tools.Explain.normalise(plans.head) == tools.Explain.normalise(plans(1)))
    // the plans a build executes (here its localCheckpoint) print the same
    val executed = new tools.Explain.Executed(spark)
    executed.take() // events of the builds above still in flight
    val builds = try Sweep.run(spark, sf0001, Seq.fill(2)("q_dedup_minhash_lsh"),
        "TEST")((_, _) => executed.take()).map(_.value.fold(e => fail(e), identity))
      finally executed.close()
    assert(builds.head.nonEmpty && builds.head == builds(1), builds)
    // a typed operator prints its JVM lambda, whose class number and
    // identity hash differ between two JVMs
    assert(tools.Explain.normalise("Arguments: graft.llm.MultimodalOps$$$Lambda" +
      "$3275/0x00007f8114ed7bf8@6bbd4048, obj: scala.Tuple5") ==
      "Arguments: graft.llm.MultimodalOps$$$Lambda, obj: scala.Tuple5")
    // a stream watermark's node id and a stream writer's identity hash
    // differ between two runs of one build
    assert(tools.Explain.normalise("Arguments: 5f47fc4f-2289-432f-be60-" +
      "8f2a0ef5e07a, ts: timestamp, writer: a.b.MemoryStreamingWrite@5a199a7e]") ==
      "Arguments: <uuid>, ts: timestamp, writer: a.b.MemoryStreamingWrite]")
  }
}
