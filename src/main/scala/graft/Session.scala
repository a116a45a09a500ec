package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main runs under: `local[cpus]` with
  * as many shuffle partitions, UTC session time, no UI, and a warehouse
  * under java.io.tmpdir so no run writes ./spark-warehouse. */
object Session {
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
    .getOrCreate()
}
