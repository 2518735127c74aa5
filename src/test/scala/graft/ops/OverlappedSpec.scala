package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** `Dedup.overlapped` failure paths: whichever side throws, no job
  * started by the call outlives it and no persisted RDD it made
  * survives.
  */
class OverlappedSpec extends SparkSpec {

  private def noJobRunning(): Unit = {
    Shim.waitForListenerBus(spark)
    val active = spark.sparkContext.statusTracker.getActiveJobIds
    assert(active.isEmpty, s"jobs outlived the call: ${active.mkString(",")}")
  }

  test("a throwing main waits for the side job and releases its result") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val sideDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Dedup.overlapped {
        val rdd = spark.sparkContext.parallelize(1 to 8, 4)
          .map { i => Thread.sleep(250L); i }
          .persist(StorageLevel.MEMORY_AND_DISK)
        rdd.count()
        sideDone.set(true)
        rdd
      }(_.unpersist(blocking = false)) {
        throw new IllegalStateException("main failed")
      }
    }
    assert(err.getMessage == "main failed")
    assert(sideDone.get, "overlapped rethrew before the side job finished")
    noJobRunning()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the side's persisted RDD survived: $leaked")
  }

  test("a throwing side propagates only after main finished; both failing keeps both") {
    val mainDone = new AtomicBoolean(false)
    val err = intercept[IllegalArgumentException] {
      Dedup.overlapped[Long, Long](throw new IllegalArgumentException("side failed"))(_ => ()) {
        val n = spark.sparkContext.parallelize(1 to 8, 4)
          .map { i => Thread.sleep(250L); i }.count()
        mainDone.set(true)
        n
      }
    }
    assert(err.getMessage == "side failed")
    assert(mainDone.get)
    noJobRunning()
    val both = intercept[IllegalStateException] {
      Dedup.overlapped[Long, Long](throw new IllegalArgumentException("side failed"))(_ => ()) {
        throw new IllegalStateException("main failed")
      }
    }
    assert(both.getSuppressed.map(_.getMessage).toSeq == Seq("side failed"))
  }
}
