package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.TxnLog

/** The fixture registry's contract: one build per root however many
  * callers race for it, a clean retry after a failed build, and a
  * [[SparkEntry.prepare]] that covers every registered fixture. */
class FixtureSpec extends SparkTestBase {

  /** A registry of its own under a fresh temp base, deleted after `body`. */
  private def withRegistry(body: Fixtures => Unit): Unit = {
    val base = Files.createTempDirectory("graft-fixture-spec")
    try body(new Fixtures(base))
    finally TxnLog.deleteRecursively(base)
  }

  test("concurrent callers share one build and both see the finished root") {
    withRegistry { reg =>
      val builds = new AtomicInteger()
      val f = reg("slow") { (_, _, root) =>
        builds.incrementAndGet()
        Thread.sleep(500) // the second caller arrives mid-build
        Files.createDirectories(Paths.get(root))
        Files.writeString(Paths.get(root, "done"), "ok")
      }
      val barrier = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val call: Callable[Boolean] = () => {
          barrier.await()
          Files.exists(Paths.get(f(spark, sfDir), "done"))
        }
        val calls = Seq.fill(2)(pool.submit(call))
        assert(calls.map(_.get(60, TimeUnit.SECONDS)) === Seq(true, true))
      } finally pool.shutdownNow()
      assert(builds.get === 1)
      assert(f.built(sfDir))
    }
  }

  test("a build that throws is retried from a wiped root on the next call") {
    withRegistry { reg =>
      val attempts = new AtomicInteger()
      val f = reg("flaky") { (_, _, root) =>
        val n = attempts.incrementAndGet()
        Files.createDirectories(Paths.get(root))
        Files.writeString(Paths.get(root, s"attempt$n"), "")
        if (n == 1) throw new IllegalStateException("first attempt fails")
      }
      val e = intercept[IllegalStateException](f(spark, sfDir))
      assert(e.getMessage === "first attempt fails")
      assert(!f.built(sfDir))
      val partial: Path = Paths.get(f.root(sfDir), "attempt1")
      assert(Files.exists(partial), "the failed attempt left a partial root")

      val root = f(spark, sfDir)
      assert(attempts.get === 2)
      assert(!Files.exists(partial), "the retry must start from a wiped root")
      assert(Files.exists(Paths.get(root, "attempt2")))
      f(spark, sfDir)
      assert(attempts.get === 2, "a built fixture is a memo hit")
    }
  }

  test("prepare builds every registered fixture, the maintained indexes included") {
    SparkEntry.prepare(spark, sfDir)
    val names = SparkEntry.fixtures.all.map(_.name)
    assert(names.contains("dix") && names.contains("vix"))
    assert(SparkEntry.fixtures.all.filterNot(_.built(sfDir)).map(_.name) === Nil)
  }
}
