package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs: the bench's own
  * session ([[GraftSession]]) on 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(s: String = "0.001"): String = s"/root/testdata/sf$s"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
