package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness books only gates that ran to completion. */
class BenchSpec extends AnyFunSuite {

  test("a throwing gate is a failure, never a time; failures reach the JSON line") {
    val boom = new IllegalStateException("gate broke after 50 ms")
    val failed = Bench.timed { Thread.sleep(50); throw boom }
    assert(failed === Left(boom))
    val ok = Bench.timed(Thread.sleep(20))
    assert(ok.exists(_ >= 0.02), s"a completed gate must be timed, got $ok")
    assert(Bench.failedField(Nil) === "")
    assert(Bench.failedField(Seq("x_b", "x_a")) === "\"failed\":[\"x_a\",\"x_b\"],")
  }
}
