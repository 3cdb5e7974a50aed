package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Par

/** `Par` waits for every branch and reports every failure: the first
  * (in argument order) is thrown, the others ride along as suppressed. */
class ParSpec extends AnyFunSuite {

  test("both: results in order; a lone failure is thrown as is") {
    assert(Par.both(1, "b") == ((1, "b")))
    val e = intercept[IllegalStateException](Par.both(1, throw new IllegalStateException("b")))
    assert(e.getMessage == "b" && e.getSuppressed.isEmpty)
  }

  test("both: when both branches fail, the second failure is suppressed on the first") {
    val e = intercept[IllegalStateException](Par.both(
      throw new IllegalStateException("a"), throw new IllegalArgumentException("b")))
    assert(e.getMessage == "a")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("b"))
  }

  test("all: every branch runs; the first failure carries the later ones") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[RuntimeException](Par.all(Seq(
      () => { ran.incrementAndGet(); 1 },
      () => { ran.incrementAndGet(); throw new RuntimeException("second") },
      () => { ran.incrementAndGet(); 3 },
      () => { ran.incrementAndGet(); throw new IllegalStateException("fourth") })))
    assert(ran.get == 4)
    assert(e.getMessage == "second")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("fourth"))
    assert(Par.all(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("all: one throwable failing two branches is not suppressed onto itself") {
    val shared = new RuntimeException("shared")
    val e = intercept[RuntimeException](Par.all(Seq(() => throw shared, () => throw shared)))
    assert((e eq shared) && e.getSuppressed.isEmpty)
  }
}
