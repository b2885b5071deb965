package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The session memo ([[Ckpt.memo]]) behind every graph-derived artifact:
  * one build per key under concurrent first callers, no caching of a
  * failed build, nested builds of other keys, and one entry per session.
  * Each test uses keys of its own, so the shared test session's entries
  * for real artifacts are never touched. */
class MemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Runs `body` on a new thread; `await` waits at most a minute, so a
    * deadlock fails the test instead of hanging the suite. */
  private final class Caller[A](body: => A) extends Thread {
    @volatile private var out: Option[A] = None
    override def run(): Unit = out = Some(body)
    def await(): A = {
      join(60000)
      assert(!isAlive, "memo caller still running after 60 s")
      out.get
    }
  }

  test("two concurrent first callers of one key run the build once and share it") {
    val key = ("MemoSpec", "race")
    val builds = new AtomicInteger
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def call(): AnyRef = Ckpt.memo(spark, key) {
      builds.incrementAndGet()
      inBuild.countDown()
      release.await()
      new Object
    }
    val first = new Caller(call())
    first.start()
    inBuild.await()
    val second = new Caller(call())
    second.start()
    // the second caller must reach the key while the first is still
    // inside the build: it parks on the key (or, if it built too, on
    // the latch)
    while (Set(Thread.State.NEW, Thread.State.RUNNABLE)(second.getState)) Thread.sleep(5)
    release.countDown()
    val (a, b) = (first.await(), second.await())
    assert(builds.get == 1)
    assert(a eq b)
  }

  test("a build that throws is not cached; the next call builds again") {
    val key = ("MemoSpec", "throws")
    val builds = new AtomicInteger
    def stored(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = stored()
    var made = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Ckpt.memo[String](spark, key) {
        builds.incrementAndGet()
        Ckpt.eager(spark.range(10).toDF("id"))
        made = stored() -- before
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    // ... and the checkpoints it made are released
    assert(made.size == 1 && (stored() & made).isEmpty, s"made $made")
    assert(Ckpt.memo(spark, key) { builds.incrementAndGet(); "built" } == "built")
    assert(Ckpt.memo(spark, key) { builds.incrementAndGet(); "again" } == "built")
    assert(builds.get == 2)
  }

  test("a build that reads a second key completes") {
    val outer = new Caller(Ckpt.memo(spark, ("MemoSpec", "outer")) {
      Ckpt.memo(spark, ("MemoSpec", "inner"))(41) + 1
    })
    outer.start()
    assert(outer.await() == 42)
    assert(Ckpt.memo(spark, ("MemoSpec", "inner"))(0) == 41)
  }

  test("a new session of the same context gets its own entry") {
    val key = ("MemoSpec", "session")
    val mine = Ckpt.memo(spark, key)(new Object)
    val other = spark.newSession()
    val theirs = Ckpt.memo(other, key)(new Object)
    assert(!(mine eq theirs))
    assert(Ckpt.memo(spark, key)(new Object) eq mine)
    assert(Ckpt.memo(other, key)(new Object) eq theirs)
  }
}
