package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The [[Artifacts]] lifecycle, driven with stub artifacts and fake owner
  * sessions: a stub "snapshot" is a temp directory its release deletes,
  * and an owner is stopped by flipping a flag. Each test uses its own
  * kinds, since the store is process-global.
  */
class ArtifactsSpec extends AnyFunSuite {

  private final class Owner { @volatile var stopped = false }

  private final class Snapshot {
    val dir: Path = Files.createTempDirectory("graft_artifacts_spec")
    val releases = new AtomicInteger
    def release(): Unit = { releases.incrementAndGet(); Files.deleteIfExists(dir) }
  }

  private def served(kind: String, owner: Owner, builds: AtomicInteger): Snapshot =
    Artifacts.held(kind, "dir", owner, () => owner.stopped)(
      { builds.incrementAndGet(); new Snapshot })(_.release())

  /** Stops `owners` and makes one call, which releases their entries. */
  private def stopAll(owners: Owner*): Unit = {
    owners.foreach(_.stopped = true)
    Artifacts.fit("spec_sweep", "dir")(())
  }

  test("the same session gets the same instance, built once") {
    val owner = new Owner
    val builds = new AtomicInteger
    val a = served("spec_same", owner, builds)
    assert(served("spec_same", owner, builds) eq a)
    assert(builds.get == 1)
    stopAll(owner)
  }

  test("a second live session builds its own entry and neither rebuilds when calls alternate") {
    val (o1, o2) = (new Owner, new Owner)
    val builds = new AtomicInteger
    val a1 = served("spec_two", o1, builds)
    val a2 = served("spec_two", o2, builds)
    assert(a1 ne a2)
    assert(Files.exists(a1.dir), "the first session's snapshot was deleted while it is live")
    for (_ <- 1 to 3) {
      assert(served("spec_two", o1, builds) eq a1)
      assert(served("spec_two", o2, builds) eq a2)
    }
    assert(builds.get == 2)
    assert(a1.releases.get == 0 && a2.releases.get == 0)
    stopAll(o1, o2)
    assert(a1.releases.get == 1 && a2.releases.get == 1)
  }

  test("an entry whose session has stopped is released on the next call, once") {
    val (gone, live) = (new Owner, new Owner)
    val builds = new AtomicInteger
    val old = served("spec_stop", gone, builds)
    gone.stopped = true
    assert(Files.exists(old.dir), "released before any further call")
    val fresh = served("spec_stop", live, builds)
    assert(!Files.exists(old.dir), "the stopped session's snapshot stayed on disk")
    assert(Files.exists(fresh.dir))
    served("spec_stop", live, builds)
    assert(old.releases.get == 1)
    stopAll(live)
  }

  test("two concurrent first calls build once") {
    val inBuild = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val builds = new AtomicInteger
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    def call(): Unit = got.add(Artifacts.fit("spec_concurrent", "dir") {
      builds.incrementAndGet(); inBuild.countDown(); finish.await(); new Object
    })
    val first = new Thread(() => call())
    first.start()
    assert(inBuild.await(30, TimeUnit.SECONDS))
    val second = new Thread(() => call())
    second.start()
    // the second caller waits on the first one's build, not beside it
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (second.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(second.getState == Thread.State.BLOCKED)
    finish.countDown()
    first.join(30000); second.join(30000)
    assert(builds.get == 1)
    assert(got.size == 2 && (got.peek() eq got.toArray.last))
  }

  test("a nested build for another key completes") {
    val owner = new Owner
    val builds = new AtomicInteger
    val done = new CountDownLatch(1)
    @volatile var outer: Snapshot = null
    val t = new Thread(() => {
      outer = Artifacts.held("spec_outer", "dir", owner, () => owner.stopped)({
        Artifacts.fit("spec_inner", "dir")(41)
        served("spec_nested", owner, builds)
        new Snapshot
      })(_.release())
      done.countDown()
    })
    t.setDaemon(true)
    t.start()
    assert(done.await(30, TimeUnit.SECONDS), "a build that calls the store for another key hung")
    assert(Artifacts.fit("spec_inner", "dir")(0) == 41)
    assert(builds.get == 1)
    stopAll(owner)
    assert(outer.releases.get == 1)
  }

  test("a failed build stores nothing; the next call builds again") {
    intercept[IllegalStateException](
      Artifacts.fit("spec_fail", "dir")(throw new IllegalStateException("fit failed")))
    assert(Artifacts.fit("spec_fail", "dir")(7) == 7)
  }
}
