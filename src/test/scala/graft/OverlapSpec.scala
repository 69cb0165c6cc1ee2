package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.SessionConf.withConf

/** [[Overlap]]: every fork settles before `all`/`scope` returns or throws,
  * and the first failure in submission order is the one rethrown;
  * [[SessionConf.withConf]]: every key is restored, by unset when it was
  * never set. */
class OverlapSpec extends SparkSpec {

  private def sleepThen[A](ms: Long)(a: => A): () => A = () => { Thread.sleep(ms); a }

  test("all returns results in submission order") {
    // later thunks finish first
    val got = Overlap.all((0 until 6).map(i => sleepThen((6 - i) * 40L)(i)))
    assert(got == (0 until 6))
  }

  test("all rethrows a failure only after its sleeping sibling has finished") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => throw new IllegalStateException("at once"),
        sleepThen(400)(done.set(true))))
    }
    assert(e.getMessage == "at once")
    assert(done.get, "all returned while a sibling was still running")
  }

  test("with two failures, the first in submission order is rethrown") {
    val e = intercept[RuntimeException] {
      Overlap.all(Seq(
        sleepThen(300)(throw new RuntimeException("first submitted, fails late")),
        () => throw new RuntimeException("second submitted, fails at once")))
    }
    assert(e.getMessage == "first submitted, fails late")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second submitted, fails at once"))
  }

  test("a throwing scope body still waits for its running fork") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Overlap.scope { s =>
        s.fork { Thread.sleep(400); done.set(true) }
        throw new IllegalArgumentException("body")
      }
    }
    assert(e.getMessage == "body")
    assert(done.get, "the scope threw while its fork was still running")
  }

  test("a scope rethrows a failed fork the body never awaited, and awaits return values") {
    val e = intercept[IllegalStateException] {
      Overlap.scope { s =>
        val a = s.fork(21)
        s.fork(throw new IllegalStateException("unawaited"))
        assert(s.await(a) * 2 == 42)
      }
    }
    assert(e.getMessage == "unawaited")
  }

  test("nested all inside all, with more thunks than cores, completes") {
    val n = Runtime.getRuntime.availableProcessors() + 4
    // every outer thunk must be running at once to pass the barrier: a
    // pool bounded below n would time out here instead of deadlocking
    val barrier = new CyclicBarrier(n)
    val got = Overlap.all((0 until n).map { i => () =>
      barrier.await(30, TimeUnit.SECONDS)
      Overlap.all((0 until 3).map(j => () => i * 10 + j)).sum
    })
    assert(got == (0 until n).map(i => i * 30 + 3))
  }

  test("a fork runs under its submitter's Spark thread-locals, not its pool thread's") {
    val sc = spark.sparkContext
    val desc = "spark.job.description"
    val group = "spark.jobGroup.id"
    def inFork() = Overlap.all(Seq(() =>
      (sc.getLocalProperty(desc), sc.getLocalProperty(group), sc.getJobTags())))
    try {
      sc.setJobGroup("first-group", "first-caller")
      sc.addJobTag("first-tag")
      inFork() // the pool thread now exists, created under the first caller's
      Thread.sleep(100) // ... and is idle again, so the next fork reuses it
      sc.setJobGroup("second-group", "second-caller")
      sc.removeJobTag("first-tag")
      sc.addJobTag("second-tag")
      assert(inFork().head === (("second-caller", "second-group", Set("second-tag"))))
      sc.clearJobGroup()
      sc.clearJobTags()
      assert(inFork().head === ((null, null, Set.empty[String])))
    } finally {
      sc.clearJobGroup()
      sc.clearJobTags()
    }
  }

  test("withConf unsets a never-set key and restores a set one, also when the body throws") {
    val never = "spark.graft.test.neverSet"
    val set = "spark.graft.test.set"
    spark.conf.unset(never)
    spark.conf.set(set, "old")
    withConf(spark, never -> "a", set -> "b") {
      assert(spark.conf.getOption(never).contains("a"))
      assert(spark.conf.get(set) == "b")
    }
    assert(spark.conf.getOption(never).isEmpty)
    assert(spark.conf.get(set) == "old")
    intercept[IllegalStateException] {
      withConf(spark, never -> "a", set -> "b") { throw new IllegalStateException("body") }
    }
    assert(spark.conf.getOption(never).isEmpty)
    assert(spark.conf.get(set) == "old")
    spark.conf.unset(set)
  }
}
