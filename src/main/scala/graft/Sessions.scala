package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the mains and the test suites. */
object Sessions {

  /** `local[cpus]` with [[GraftExtensions]] (native functions, the SQL
    * DML rules and the fork-free local file system), one shuffle
    * partition per CPU, UTC session time and no UI. Returns the active
    * session when there is one. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
