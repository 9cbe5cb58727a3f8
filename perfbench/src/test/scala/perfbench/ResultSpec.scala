package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ResultSpec extends AnyFunSuite {

  test("a unit that throws is counted as failed and yields no timing") {
    val r = new Result
    assert(r.attempt("ok")(42).contains(42))
    assert(r.attempt("boom")(throw new RuntimeException("boom")).isEmpty)
    assert(r.attempted == 2 && r.failed == 1)
  }

  test("a run is correct only when it has checks and all of them pass") {
    val r = new Result
    assert(!r.correct)
    r.check("one", ok = true)
    assert(r.correct)
    r.check("two", ok = false, "mismatch")
    assert(!r.correct)
  }

  test("live heap keeps the largest reading") {
    val r = new Result
    r.liveHeap(10.0); r.liveHeap(30.0); r.liveHeap(20.0)
    assert(r.details("live_heap_mb").toDouble == 30.0)
  }
}
