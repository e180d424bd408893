package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; UTC + small shuffle partitions to
  * match the driver harness. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
