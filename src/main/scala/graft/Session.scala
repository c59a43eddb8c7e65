package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on: Bench, Verify, the
  * tools and the test suites. Runtime keys such as [[index.GenLog.RootKey]]
  * are set afterwards with `spark.conf.set`.
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per thread, UTC, no UI and
    * log level WARN. The two parquet keys are the ones [[T]] sets before
    * every testdata read: nanosecond timestamps read as longs, and
    * `isAdjustedToUTC=false` micros read as plain UTC timestamps rather
    * than TIMESTAMP_NTZ. Returns the running session if there is one.
    */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
