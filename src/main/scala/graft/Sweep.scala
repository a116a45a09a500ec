package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one loop over the query registry. Every tool that runs declared
  * queries (Bench, Verify, Smoke, Explain, ScaleSweep) goes through
  * [[run]], so they share one failure policy: a throw — an unknown name
  * included — is logged as `<TAG> FAIL <name>: <message>` (plain ASCII,
  * so it greps the same under any locale), recorded, and
  * the sweep goes on; the caller then exits 1 naming every failure
  * ([[finish]]). */
object Sweep {

  type Query = (SparkSession, String) => DataFrame

  /** One query's outcome: seconds spent building the frame plus running
    * the action on it, and the action's value or the failure message. */
  final case class Result[A](name: String, secs: Double,
                             value: Either[String, A])

  /** Every declared query, in name order. */
  lazy val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** `<SimpleName>: <first message line, ≤200 chars>`. */
  private def message(e: Throwable): String = s"${e.getClass.getSimpleName}: " +
    Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)

  /** Build each of `names` in order (repeats allowed) and run `action` on
    * the frame, timing the two together. */
  def run[A](spark: SparkSession, sfDir: String, names: Seq[String],
             tag: String, queries: Map[String, Query] = SparkEntry.queries)
            (action: (String, DataFrame) => A): Seq[Result[A]] =
    names.map { name =>
      val t0 = System.nanoTime()
      val value = try Right(action(name, queries(name)(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"$tag FAIL $name: ${message(e)}")
          Left(message(e))
        }
      Result(name, (System.nanoTime() - t0) / 1e9, value)
    }

  /** Bench's timing: the min of two sweep-separated `count()` passes. A
    * single cold pass charges a query whatever I/O or GC stall the box
    * throws at it (10-30x inflation of trivial projections under ambient
    * load, BASELINE.md); passes minutes apart cannot both be inflated by
    * one stall, and plans are rebuilt per pass, so no shuffle-output reuse
    * flatters the second. A query that throws in EITHER pass fails, with
    * the first pass's message when both threw. */
  def timed(spark: SparkSession, sfDir: String, names: Seq[String],
            tag: String, queries: Map[String, Query] = SparkEntry.queries)
      : Seq[Result[Long]] = {
    def pass() = run(spark, sfDir, names, tag, queries)((_, df) => df.count())
    val (p1, p2) = (pass(), pass())
    p1.zip(p2).map { case (a, b) =>
      Result(a.name, math.min(a.secs, b.secs), a.value.flatMap(_ => b.value))
    }
  }

  /** Names of the failed results, in sweep order. */
  def failed(results: Seq[Result[_]]): Seq[String] =
    results.collect { case Result(name, _, Left(_)) => name }.distinct

  /** Stop the session; with any failure, name them all and exit 1. */
  def finish(spark: SparkSession, tag: String, failures: Seq[String]): Unit = {
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"$tag FAIL: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}
