package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** Par.ordered: order-preserving results, and fail-fast on the first
  * member failure — queued members never start. */
class ParSpec extends AnyFunSuite {

  test("results keep input order whatever the completion order") {
    val out = Par.ordered((1 to 7).toList) { i =>
      Thread.sleep((8 - i) * 5L) // later members finish first
      i * 10
    }
    assert(out == (1 to 7).map(_ * 10))
  }

  test("member 0 fails: its failure is rethrown at once, running " +
    "members are interrupted, and queued members never start") {
    val started = ConcurrentHashMap.newKeySet[Int]()
    val running = new CountDownLatch(2)
    val interrupted = new CountDownLatch(2)
    val never = new CountDownLatch(1)
    val boom = new IllegalStateException("member 0 failed")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.ordered((0 until 10).toList) { i =>
        started.add(i)
        if (i == 0) { // fail once members 1 and 2 hold the other threads
          running.await(10, TimeUnit.SECONDS)
          throw boom
        }
        running.countDown()
        // without fail-fast the caller would wait here 30 s per member
        try never.await(30, TimeUnit.SECONDS)
        catch { case ie: InterruptedException =>
          interrupted.countDown(); throw ie
        }
        i
      }
    }
    assert(e eq boom, "the member's own exception, unchanged")
    assert((System.nanoTime() - t0) / 1e9 < 20.0,
      "ordered waited for the blocked members instead of failing fast")
    assert(interrupted.await(10, TimeUnit.SECONDS),
      "running members were not interrupted")
    // the pool is at most 3 wide: members 0-2 may start, none after
    val late = (3 until 10).filter(started.contains)
    assert(late.isEmpty, s"queued members started after the failure: $late")
  }
}
