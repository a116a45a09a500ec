package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each declared query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A throwing query is logged
  * and the rest still dump; the run then exits 1 naming every failure,
  * and so does a name filter that selects no query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: only dump queries whose name contains one of
    // them (dev loop: verify one operator without the full sweep)
    val only = args.drop(2).toSeq
    val names = Sweep.names.filter(q => only.isEmpty || only.exists(q.contains))
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val results = Sweep.run(spark, sfDir, names, "VERIFY") { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val unmatched = only.filterNot(f => Sweep.names.exists(_.contains(f)))
    Sweep.finish(spark, "VERIFY",
      unmatched.map(f => s"filter '$f' selects no query") ++ Sweep.failed(results))
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in oracle SQL or in an error message
    * would otherwise make every reader's JSON parse fail. Bench's JSON
    * files use it too. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
