package graft

import java.util.UUID
import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.sql.SparkSession

/** Runs independent driver-side legs side by side. Spark actions are only
  * sequential because one driver thread calls them one after another; a
  * leg per thread lets their jobs share the cores.
  *
  * Each leg runs on its own fresh thread under its own Spark job group
  * (interrupt on cancel). A fresh thread inherits a clone of the caller's
  * local properties and dies with the leg, so no job group or property
  * leaks into pooled threads or back into the caller. The first leg to
  * fail cancels its siblings' job groups, including jobs they have yet to
  * submit, and interrupts their threads; the helper waits for every leg to
  * stop and then rethrows that original error. A caller interrupted while
  * it waits is treated the same way, so nested overlaps cancel from the
  * outside in.
  */
object Overlap {

  /** Runs `a` and `b` side by side and returns both results. */
  def overlap[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all(spark, Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  private def all(spark: SparkSession, legs: Seq[() => Any]): Seq[Any] = {
    val sc = spark.sparkContext
    val id = s"graft-overlap-${UUID.randomUUID()}"
    val groups = legs.indices.map(i => s"$id-$i")
    val outcomes = new LinkedBlockingQueue[(Int, Either[Throwable, Any])]()
    val threads = legs.indices.map { i =>
      val t = new Thread(() => {
        // keep the inherited description, so executions stay named by it or their call site
        sc.setJobGroup(groups(i), sc.getLocalProperty("spark.job.description"), interruptOnCancel = true)
        outcomes.put(i -> (try Right(legs(i)()) catch { case e: Throwable => Left(e) }))
      }, groups(i))
      t.setDaemon(true)
      t.start()
      t
    }
    val results = new Array[Any](legs.length)
    try {
      legs.foreach { _ =>
        val (i, outcome) = outcomes.take()
        results(i) = outcome.fold(e => throw e, identity)
      }
      results.toSeq
    } catch {
      case e: Throwable =>
        groups.foreach(g => sc.cancelJobGroupAndFutureJobs(g, "a sibling overlap leg failed"))
        threads.foreach(_.interrupt())
        joinAll(threads)
        throw e
    }
  }

  /** Waits for every thread to end, keeping the caller's interrupt flag. */
  private def joinAll(threads: Seq[Thread]): Unit = {
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
