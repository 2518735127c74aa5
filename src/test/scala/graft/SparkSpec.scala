package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it launched (the listener bus is
    * drained before and after, so no other job's event is counted).
    */
  def jobsDuring[A](body: => A): (A, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftshim.Shim.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftshim.Shim.waitForListenerBus(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
