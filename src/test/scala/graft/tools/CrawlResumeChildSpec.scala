package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The c15 gate spawns its crash-forge child eagerly, before generation 1
  * runs in-process. If generation 1 throws, the `--server` child must not
  * be left running: [[CrawlResumeChild.withEagerChild]] destroys it. */
class CrawlResumeChildSpec extends AnyFunSuite {

  test("an eager child abandoned by a throwing body is gone within 10 s") {
    var pending: CrawlResumeChild.Pending = null
    val e = intercept[IllegalStateException](CrawlResumeChild.withEagerChild { p =>
      pending = p
      assert(p.isAlive, "the eager child should be running before the body throws")
      throw new IllegalStateException("generation 1 failed")
    })
    assert(e.getMessage == "generation 1 failed")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (pending.isAlive && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!pending.isAlive, "the abandoned --server child is still running")
  }
}
