package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the mains' `Session.local`, pinned
  * to 4 cores whatever `SPARK_GRAFT_CPUS` says. local[4] keeps test
  * latency low while still exercising multi-partition shuffles. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Spark jobs started while `body` runs, counted by a listener. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    def flush(): Unit =
      org.apache.spark.graftbridge.CoreBridge.waitUntilListenerBusEmpty(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    flush()
    sc.addSparkListener(l)
    try { body; flush() } finally sc.removeSparkListener(l)
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
