package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.create(
    master = "local[4]", shufflePartitions = 4, appName = "graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** `f`'s result and the number of Spark jobs started while it ran. The
    * listener bus delivers in order: once a sentinel job's start arrives,
    * every job started inside `f` has been counted. */
  def jobsDuring[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.sentinel") != null)
          sentinel.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val out = try f finally {
      sc.setLocalProperty("graft.test.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.sentinel", null)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      sc.removeSparkListener(listener)
    }
    (out, jobs.get)
  }
}
