package graft

import org.apache.spark.sql.SparkSession

/** The local session every main and the test suite run on: `cpus`
  * task slots and as many shuffle partitions, UTC session time,
  * nanosecond parquet timestamps read as longs (normalized in
  * [[graft.sources.Tables]]), no UI, WARN logging. `warehouseDir`
  * puts the session catalog's directory outside the working dir:
  * Spark creates it there once anything reads the catalog (the test
  * suite's `spark.catalog.listTables()` does). AQE is Spark's default.
  */
object LocalSession {
  def apply(appName: String, cpus: Int,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val s = warehouseDir.fold(b)(b.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
