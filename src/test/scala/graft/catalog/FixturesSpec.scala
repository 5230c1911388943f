package graft.catalog

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's fan-out helper: ordered results, and on failure the
  * first error propagates with every outstanding unit cancelled.
  */
class FixturesSpec extends AnyFunSuite {

  test("fanOut keeps input order; a failing unit propagates and no pool thread outlives the call") {
    assert(Fixtures.fanOut(Seq(3, 1, 2), maxThreads = 2) { k => Thread.sleep(k * 20L); k * 10 } ==
      Seq(30, 10, 20))

    val threads = new ConcurrentLinkedQueue[Thread]()
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Fixtures.fanOut(0 until 4, maxThreads = 4) { k =>
        threads.add(Thread.currentThread())
        if (k == 0) { Thread.sleep(200); throw new IllegalStateException("unit 0 failed") }
        Thread.sleep(60000) // cancelled, never completes
        k
      }
    }
    assert(e.getMessage == "unit 0 failed")
    assert((System.nanoTime() - t0) / 1e9 < 30, "outstanding units were not cancelled")
    assert(threads.size == 4)
    threads.asScala.foreach { t => t.join(1000); assert(!t.isAlive, s"${t.getName} outlived fanOut") }
  }
}
