package graft

import graft.streaming.ParallelCommits
import org.scalatest.funsuite.AnyFunSuite

class ParallelCommitsSpec extends AnyFunSuite {

  test("a throwing fa and a slow failing fb: both failures reported") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      ParallelCommits.inParallel(
        throw new IllegalStateException("fa failed"),
        { Thread.sleep(300); throw new java.io.IOException("fb failed") })
    }
    assert(e.getMessage == "fa failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("fb failed"))
    assert((System.nanoTime() - t0) / 1e6 >= 300, "fb must be awaited")
  }

  test("success returns both results; an fb failure alone is rethrown") {
    assert(ParallelCommits.inParallel(1, "b") == ((1, "b")))
    val e = intercept[java.io.IOException] {
      ParallelCommits.inParallel(1, throw new java.io.IOException("fb"))
    }
    assert(e.getMessage == "fb")
  }
}
