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

  test("every gate is booked from its own trials alone: min booked, [min,max] spread emitted") {
    assert(Bench.book(Seq(Some(2.5), Some(1.25))) === Some((1.25, 2.5)))
    assert(Bench.book(Seq(Some(0.75))) === Some((0.75, 0.75)))
    // one failed trial fails the gate: no time, no spread
    assert(Bench.book(Seq(Some(1.0), None)) === None)
    assert(Bench.book(Nil) === None)
    val fmt = (v: Double) => String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    assert(Bench.spreadField(Seq("x_a" -> ((1.25, 2.5)), "x_b" -> ((0.75, 0.75))), fmt) ===
      "\"spread\":{\"x_a\":[1.25,2.50],\"x_b\":[0.75,0.75]},")
  }
}
