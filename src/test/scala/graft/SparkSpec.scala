package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the mains' `Session.local`, pinned
  * to 4 cores whatever `SPARK_GRAFT_CPUS` says. local[4] keeps test
  * latency low while still exercising multi-partition shuffles. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
