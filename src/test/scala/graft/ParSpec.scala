package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins Par.run's failure discipline: a failing task must not propagate
  * until every sibling has finished — callers delete shared temp stores
  * in a `finally`, and a still-running sibling would race that cleanup
  * (the r19 verdict's Par.run item) — and that an interrupt of the
  * caller is the one failure that does not wait: it keeps the caller's
  * interrupt flag and cancels the siblings. */
class ParSpec extends AnyFunSuite with Matchers {

  test("results come back in task order") {
    Par.run(() => 1, () => 2, () => 3) shouldBe Seq(1, 2, 3)
  }

  test("first failure propagates unwrapped") {
    val boom = intercept[IllegalStateException] {
      Par.run[Int](() => throw new IllegalStateException("boom"), () => 2)
    }
    boom.getMessage shouldBe "boom"
  }

  test("a failing task does not propagate until every sibling finished") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[IllegalStateException] {
      Par.run[Unit](
        () => throw new IllegalStateException("fast failure"),
        () => { Thread.sleep(400); slowDone.set(true) })
    }
    // by the time run() rethrows, the slow sibling must have completed —
    // otherwise the caller's finally-cleanup races the sibling's writes
    slowDone.get() shouldBe true
  }

  test("all failures: the FIRST task's failure wins") {
    val boom = intercept[IllegalStateException] {
      Par.run[Int](
        () => { Thread.sleep(200); throw new IllegalStateException("first") },
        () => throw new IllegalStateException("second"))
    }
    boom.getMessage shouldBe "first"
  }

  test("an interrupted caller keeps its interrupt flag and cancels the running siblings") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new CountDownLatch(1)
    val siblingStopped = new CountDownLatch(1)
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val flagAfter = new java.util.concurrent.atomic.AtomicBoolean(false)
    val caller = new Thread(() =>
      try Par.run[Unit](() => {
        started.countDown()
        try Thread.sleep(60000)
        catch { case _: InterruptedException => siblingStopped.countDown() }
      })
      catch {
        case e: Throwable =>
          thrown.set(e)
          flagAfter.set(Thread.currentThread().isInterrupted)
      })
    caller.start()
    started.await(10, TimeUnit.SECONDS) shouldBe true
    caller.interrupt()
    caller.join(10000)
    caller.isAlive shouldBe false
    thrown.get() shouldBe an[InterruptedException]
    flagAfter.get() shouldBe true
    // the sibling was interrupted, not left sleeping out its minute
    siblingStopped.await(10, TimeUnit.SECONDS) shouldBe true
  }
}
