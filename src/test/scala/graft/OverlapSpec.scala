package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import Overlap.overlap

/** [[Overlap.overlap]]'s contract: both results come back, no job group
  * leaks into the caller, and a failing leg cancels a sibling's running
  * Spark job — nested one level down too — before its own error surfaces.
  */
class OverlapSpec extends SparkSuite {

  private def sc = spark.sparkContext

  /** A 4-task job whose tasks sleep far past the spec's deadlines unless
    * interrupted. */
  private def slowJob(): Long =
    sc.parallelize(1 to 4, 4).map { x => OverlapSpec.sleep(); x }.count()

  /** A leg that throws `boom` once every core runs a sleeping task. */
  private def failWhenBusy(boom: Throwable): Nothing = {
    eventually(timeout(60.seconds), interval(20.millis))(assert(OverlapSpec.sleeping.get == 4))
    throw boom
  }

  /** Runs `body`, waits until no job is active and no task sleeps, and
    * returns the results of the jobs `body` started. */
  private def jobResults(body: => Unit): Seq[JobResult] = {
    val results = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = results.put(e.jobId, e.jobResult)
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      eventually(timeout(20.seconds), interval(50.millis)) {
        assert(sc.statusTracker.getActiveJobIds.isEmpty)
        assert(OverlapSpec.sleeping.get == 0)
      }
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    results.values().toArray(Array.empty[JobResult]).toSeq
  }

  test("both results are returned and no job group leaks into the caller") {
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val (a, b) = overlap(spark)(spark.range(10).count(), spark.range(5).selectExpr("sum(id)").head().getLong(0))
    assert((a, b) == ((10L, 10L)))
    assert(sc.getLocalProperty("spark.jobGroup.id") == group)
  }

  test("a failing leg cancels its sibling's running job and rethrows the original error") {
    val boom = new IllegalStateException("leg failed")
    val results = jobResults {
      val thrown = intercept[IllegalStateException](overlap(spark)(slowJob(), failWhenBusy(boom)))
      assert(thrown eq boom)
    }
    assert(results.size == 1 && results.head.isInstanceOf[JobFailed])
  }

  test("a failing leg cancels the jobs of an overlap nested in its sibling") {
    val boom = new IllegalArgumentException("outer leg failed")
    val results = jobResults {
      val thrown = intercept[IllegalArgumentException](
        overlap(spark)(overlap(spark)(slowJob(), slowJob()), failWhenBusy(boom)))
      assert(thrown eq boom)
    }
    assert(results.nonEmpty && results.forall(_.isInstanceOf[JobFailed]))
  }
}

object OverlapSpec {
  /** Tasks of [[OverlapSpec.slowJob]] currently asleep (local mode: one JVM). */
  val sleeping = new AtomicInteger

  def sleep(): Unit = {
    sleeping.incrementAndGet()
    try Thread.sleep(120000) finally sleeping.decrementAndGet()
  }
}
