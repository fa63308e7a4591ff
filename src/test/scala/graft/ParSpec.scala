package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The fan-out runner's failure contract: every leg runs to
  * completion, and an interrupted caller still learns of a leg's
  * failure. */
class ParSpec extends AnyFunSuite with Matchers {

  test("an interrupted caller gets the interrupt carrying the leg failure; every leg completes") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val finished = new AtomicInteger(0)
    val boom = new RuntimeException("leg failed")
    def leg(fail: Boolean): () => Unit = () => {
      started.countDown()
      release.await()
      Thread.sleep(100)
      finished.incrementAndGet()
      if (fail) throw boom
    }
    @volatile var caught: Throwable = null
    val caller = new Thread(() =>
      try { Par.run(Seq(leg(fail = true), leg(fail = false))); () }
      catch { case t: Throwable => caught = t })
    caller.start()
    started.await(10, TimeUnit.SECONDS) shouldBe true
    caller.interrupt()
    release.countDown()
    caller.join(10000)
    caller.isAlive shouldBe false
    caught shouldBe an[InterruptedException]
    caught.getSuppressed.toSeq shouldBe Seq(boom)
    finished.get shouldBe 2
  }
}
