package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pins Tables.normalizeEventTs across every physical ts form the
  * testdata generator has shipped (the round-8 regression class): long
  * nanos, TIMESTAMP_NTZ, and plain TimestampType must all normalize to
  * the SAME instants, and an unhandled form must fail loudly instead of
  * casting blind. Also pins what the table schema is keyed on: the
  * file's commit and the session's nanosAsLong flag, not the path.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val instants = Seq(
    "2024-03-01 00:00:00.123456", "2024-03-15 12:34:56.654321")

  test("nanos, NTZ, and timestamp forms normalize to identical instants") {
    val base = instants.toDF("s")
      .select(to_timestamp($"s").as("ts"))
    val want = base.select(unix_micros($"ts")).as[Long].collect().toSeq

    val fromTs = Tables.normalizeEventTs(base)
    val fromNanos = Tables.normalizeEventTs(
      base.select((unix_micros($"ts") * 1000).as("ts")))
    val fromNtz = Tables.normalizeEventTs(
      base.select($"ts".cast("timestamp_ntz").as("ts")))

    for ((df, tag) <- Seq((fromTs, "ts"), (fromNanos, "nanos"),
        (fromNtz, "ntz"))) {
      assert(df.schema("ts").dataType.typeName == "timestamp", tag)
      val got = df.select(unix_micros($"ts")).as[Long].collect().toSeq
      assert(got == want, s"$tag: $got != $want")
    }
  }

  test("an unhandled physical form fails loudly") {
    val weird = instants.toDF("ts") // StringType
    val e = intercept[IllegalStateException] {
      Tables.normalizeEventTs(weird)
    }
    assert(e.getMessage.contains("unhandled physical type"))
  }

  test("a fixture rewritten in-JVM at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    Seq((1, "a")).toDF("x", "y").write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("x", "y"))
    Seq((2L, 3.0, true)).toDF("p", "q", "r").write.mode("overwrite").parquet(path)
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("p", "q", "r"))
    assert(t.collect().toSeq == Seq(Row(2L, 3.0, true)))
  }

  test("each nanosAsLong setting reads the same file with its own schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/ev.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1709251200123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val asLong = Tables.table(spark, dir, "ev")
      assert(asLong.schema("ts").dataType == LongType)
      assert(asLong.collect().toSeq == Seq(Row(1709251200123456789L)))
      // off, Spark refuses the nanos type: the inference must run again
      // rather than reuse the schema inferred with the flag on
      spark.conf.set(key, "false")
      intercept[AnalysisException] { Tables.table(spark, dir, "ev") }
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "ev").schema("ts").dataType == LongType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
