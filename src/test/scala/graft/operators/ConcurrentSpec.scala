package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class ConcurrentSpec extends AnyFunSuite {

  test("awaitAll runs every thunk and returns after all complete") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    Concurrent.awaitAll(
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () })
    assert(hits.get() == 3)
  }

  test("awaitAll propagates the first failure after all thunks finish") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Concurrent.awaitAll(
        () => { ran.incrementAndGet(); throw new IllegalStateException("boom") },
        () => { ran.incrementAndGet(); () })
    }
    assert(e.getMessage == "boom")
    assert(ran.get() == 2) // the healthy write was not cancelled mid-flight
  }

  test("awaitAll lets sibling thunks finish when the caller is interrupted") {
    val started = new java.util.concurrent.CountDownLatch(2)
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    def slow(): () => Unit = () => {
      started.countDown()
      Thread.sleep(500)
      finished.incrementAndGet(); ()
    }
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try Concurrent.awaitAll(slow(), slow()) catch { case t: Throwable => thrown = t })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], String.valueOf(thrown))
    assert(finished.get() == 2) // neither write was interrupted mid-flight
  }

  test("awaitAll with one thunk runs inline") {
    val t = Thread.currentThread()
    var seen: Thread = null
    Concurrent.awaitAll(() => { seen = Thread.currentThread() })
    assert(seen eq t)
  }
}
