package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `GraftListenerBridge.drain` is a bounded, best-effort wait: it answers
  * false on a timeout or an interrupt, and an interrupted caller keeps its
  * interrupt flag (a swallowed interrupt would leave a cancelled thread
  * running on).
  */
class ListenerBridgeSpec extends SparkSpec {

  /** Runs `body` while the listener bus holds an undelivered event: a
    * listener blocks on its first job-start until `body` returns.
    */
  private def withBusyBus(body: => Unit): Unit = {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      spark.range(3).count() // job-start reaches the listener and parks it
      assert(entered.await(60, TimeUnit.SECONDS), "listener never saw the job")
      body
    } finally {
      release.countDown()
      sc.removeSparkListener(listener)
    }
  }

  test("an interrupted caller keeps its interrupt flag") {
    withBusyBus {
      Thread.currentThread().interrupt()
      val drained = GraftListenerBridge.drain(spark.sparkContext, 5000)
      // Thread.interrupted() also clears the flag for the rest of the suite
      assert(Thread.interrupted(), "drain swallowed the interrupt")
      assert(!drained)
    }
  }

  test("a timeout answers false and leaves the thread uninterrupted") {
    withBusyBus {
      assert(!GraftListenerBridge.drain(spark.sparkContext, 50))
      assert(!Thread.currentThread().isInterrupted)
    }
    assert(GraftListenerBridge.drain(spark.sparkContext, 60000))
  }
}
