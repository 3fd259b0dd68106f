package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{BuildCost, CacheRegistry, Memo}

/** The shared-stage memo: one fill per key, nesting across memos, the
  * BuildCost ledger, and eviction by CacheRegistry.clear().
  */
class MemoSpec extends AnyFunSuite {

  test("a key fills once under 8 concurrent callers") {
    val memo = new Memo[String, String]
    val fills = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = {
            go.await()
            memo("k") { fills.incrementAndGet(); Thread.sleep(100); "v" }
          }
        })
      }
      go.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)) == Seq.fill(8)("v"))
      assert(fills.get() == 1)
    } finally pool.shutdownNow()
  }

  test("a fill may read a second Memo") {
    val outer = new Memo[Int, Int]
    val inner = new Memo[Int, Int]
    assert(outer(1)(inner(1)(20) + 1) == 21)
    assert(outer(1)(-1) == 21 && inner(1)(-1) == 20)
  }

  test("a labeled fill adds to BuildCost once; a hit adds nothing") {
    val label = s"memo_spec_${System.nanoTime()}"
    val memo = new Memo[Int, Int]
    val fills = new AtomicInteger()
    assert(memo(7, label) { fills.incrementAndGet(); Thread.sleep(20); 1 } == 1)
    val filled = BuildCost.snapshot()(label)
    assert(filled > 0.0)
    assert(memo(7, label) { fills.incrementAndGet(); 2 } == 1)
    assert(fills.get() == 1)
    assert(BuildCost.snapshot()(label) == filled)
    // an unlabeled fill records nothing
    val before = BuildCost.snapshot()
    memo(8)(3)
    assert(BuildCost.snapshot() == before)
  }

  test("CacheRegistry.clear() evicts the entry, so the next call fills again") {
    val memo = new Memo[String, Int]
    val fills = new AtomicInteger()
    assert(memo("k")(fills.incrementAndGet()) == 1)
    assert(memo("k")(fills.incrementAndGet()) == 1)
    CacheRegistry.clear()
    assert(memo("k")(fills.incrementAndGet()) == 2)
  }
}
