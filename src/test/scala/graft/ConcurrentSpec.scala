package graft

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Concurrent

/** [[Concurrent.both]], the overlap behind the hybrid queries' two
  * retrieval legs and the BM25 probe's snapshot resolve: it returns only
  * once both sides are done, and reports both failures. */
class ConcurrentSpec extends AnyFunSuite {

  test("when both sides throw, both errors are reported and neither " +
      "side is still running when the call returns") {
    val aThrew = new CountDownLatch(1)
    @volatile var bDone = false
    val ea = new IllegalStateException("leg a failed")
    val eb = new IllegalArgumentException("leg b failed")
    val thrown = intercept[RuntimeException] {
      Concurrent.both[Int, Int](
        { aThrew.countDown(); throw ea },
        // b is still working when a fails
        { aThrew.await(); Thread.sleep(300L); bDone = true; throw eb })
    }
    assert(bDone, "the call returned while leg b was still running")
    assert((thrown +: thrown.getSuppressed.toSeq).toSet == Set(ea, eb))
  }
}
