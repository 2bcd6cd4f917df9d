package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs, built with the shipped
  * engine config ([[GraftSession]]).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, never stopped per-suite

  /** Wait until every listener event posted so far has been delivered:
    * the listener bus is asynchronous, and its drain is spark-private.
    */
  protected def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Spark jobs started while `body` runs. */
  protected def jobsRunBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    drainListenerBus()
    sc.addSparkListener(l)
    try { body; drainListenerBus() } finally sc.removeSparkListener(l)
    jobs.get
  }
}

object SparkSpec {
  /** A [[TmpDirs]] dir: deleted when the test JVM exits. */
  def tmpDir(prefix: String): java.nio.file.Path = TmpDirs.create(prefix)

  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        tmpDir("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
