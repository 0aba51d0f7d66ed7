package graft

import org.apache.spark.sql.SparkSession

/** The engine's local session: `local[cpus]` with as many shuffle
  * partitions as cores, the native expressions registered
  * ([[GraftExtensions]]), UTC session time, parquet nanosecond timestamps
  * read as longs, no UI, WARN logging. Bench, Verify, ScaleProbe, PlanDump
  * and the test suites all build their session here.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
