package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The one store for artifacts a query builds once and then reuses, keyed
  * by (kind, table dir, params). There are two lifetimes:
  *
  *  - A **fit** (centroids, codebooks, rotations, PCA, LR weights: driver
  *    arrays) lives as long as the process, so a query builder and the
  *    oracle generated from its model share one instance. It assumes the
  *    tables under a dir do not change while the process runs; a
  *    production deployment would version the model with the data
  *    snapshot it was fitted on.
  *  - A **served** artifact (a serving index: snapshots written to disk
  *    and read back as DataFrames) belongs to the session that built it.
  *    The owner is part of its key, so two live sessions each hold their
  *    own entry and never rebuild each other's. An entry is released, its
  *    snapshot deleted, only once its session has stopped, since a live
  *    session may still read it; every call to the store releases and
  *    drops such entries, and the process's exit releases the rest. No
  *    entry is dropped without its release.
  *
  * Build-or-get is serialized per key: concurrent first calls build once,
  * unrelated builds (say, in two `Overlap` legs) run side by side, and a
  * build may itself call the store for another key. A failed build stores
  * nothing; the next call builds again.
  */
object Artifacts {

  private final class Entry(val stopped: () => Boolean, val release: Any => Unit) {
    @volatile var value: Any = null
  }

  private val entries = TrieMap.empty[(String, String, Any), Entry]

  // exit stops every session, so nothing still held can be read again
  sys.addShutdownHook(entries.values.foreach(e => if (e.value != null) e.release(e.value)))

  /** The fit of `kind` for `dir` under `params`, built once per process. */
  def fit[A](kind: String, dir: String, params: Any*)(build: => A): A =
    get((kind, dir, params), new Entry(() => false, _ => ()), build)

  /** The serving artifact of `kind` for `dir` held by `spark`, built once
    * per session; `release` frees it once `spark` has stopped. */
  def served[A](kind: String, dir: String, spark: SparkSession)(build: => A)(
      release: A => Unit): A =
    held(kind, dir, spark, () => spark.sparkContext.isStopped)(build)(release)

  /** [[served]] for any owner, whose end `stopped` reports. */
  private[graft] def held[A](kind: String, dir: String, owner: AnyRef,
      stopped: () => Boolean)(build: => A)(release: A => Unit): A =
    get((kind, dir, owner), new Entry(stopped, a => release(a.asInstanceOf[A])), build)

  private def get[A](key: (String, String, Any), fresh: => Entry, build: => A): A = {
    sweep()
    val e = entries.getOrElse(key, {
      val f = fresh
      entries.putIfAbsent(key, f).getOrElse(f)
    })
    e.synchronized {
      if (e.value == null) e.value = build
      e.value.asInstanceOf[A]
    }
  }

  /** Releases and drops every built entry whose owner has stopped. */
  private def sweep(): Unit =
    entries.foreach { case (key, e) =>
      // remove(key, e) succeeds for one caller only, so an entry is released once
      if (e.value != null && e.stopped() && entries.remove(key, e)) e.release(e.value)
    }
}
