package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a run that throws is a failure with its exception class, not a time") {
    assert(Bench.timeOnce(() => throw new IllegalStateException("boom")) ==
      Left("IllegalStateException"))
    val ok = Bench.timeOnce(() => Thread.sleep(5))
    assert(ok.exists(_ >= 0.005), ok)
  }
}
