package graft

import graft.operators.Par
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("Par.run: an interrupted caller stops its thunks and returns only " +
      "once none is still running") {
    val running = new AtomicInteger(0)
    val started = new CountDownLatch(2)
    val thunks = (1 to 3).map(i => () => {
      running.incrementAndGet()
      started.countDown()
      // a thunk that takes a moment to settle after its interrupt, like a
      // Spark action unwinding (a spin, so a second interrupt can't cut it)
      try Thread.sleep(60000L)
      finally {
        val end = System.nanoTime() + 200000000L
        while (System.nanoTime() < end) Thread.onSpinWait()
        running.decrementAndGet()
      }
      i
    })
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try { Par.run(thunks, maxThreads = 2); () }
      catch { case t: Throwable => thrown = t })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS), "thunks never started")
    caller.interrupt()
    caller.join(10000L)
    assert(!caller.isAlive, "Par.run kept waiting on interrupted thunks")
    assert(thrown.isInstanceOf[InterruptedException])
    assert(running.get == 0, "a thunk was still running after Par.run threw")
  }

  test("Verify.parWidth: default 4, integers clamp to >= 1, junk falls " +
      "back to 4") {
    assert(Verify.parWidth(None) == 4)
    assert(Verify.parWidth(Some("2")) == 2)
    assert(Verify.parWidth(Some(" 8 ")) == 8)
    assert(Verify.parWidth(Some("0")) == 1)
    assert(Verify.parWidth(Some("-3")) == 1)
    assert(Verify.parWidth(Some("four")) == 4)
    assert(Verify.parWidth(Some("")) == 4)
  }
}
