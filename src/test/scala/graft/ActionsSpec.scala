package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Actions

/** `Actions.inParallel` failure semantics outside Spark: plain tasks on
  * the pool, the calling thread interrupted from the test. */
class ActionsSpec extends AnyFunSuite {

  test("inParallel: failures settle first-wins with the rest suppressed") {
    val a = new IllegalStateException("a")
    val b = new IllegalArgumentException("b")
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException](Actions.inParallel(
      () => throw a, () => ran.incrementAndGet(), () => throw b))
    assert(e eq a)
    assert(e.getSuppressed.toSeq == Seq(b))
    assert(ran.get == 1)
  }

  test("inParallel: an interrupt cancels the running sibling, waits for " +
      "it to exit, and rethrows with the recorded failure suppressed") {
    val boom = new IllegalStateException("boom")
    val failed = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val exited = new CountDownLatch(1)
    @volatile var thrown: Throwable = null
    @volatile var exitedAtReturn = false
    @volatile var interruptedAtReturn = false
    val caller = new Thread(() =>
      try Actions.inParallel(
        () => try throw boom finally failed.countDown(),
        () => {
          started.countDown()
          try Thread.sleep(60000L) finally exited.countDown()
        })
      catch { case t: Throwable =>
        thrown = t
        exitedAtReturn = exited.getCount == 0
        interruptedAtReturn = Thread.currentThread().isInterrupted
      })
    caller.start()
    assert(failed.await(10, TimeUnit.SECONDS))
    assert(started.await(10, TimeUnit.SECONDS))
    // let the caller record the failure and block on the sleeping task
    Thread.sleep(200L)
    caller.interrupt()
    caller.join(20000L)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    assert(thrown.getSuppressed.toSeq == Seq(boom))
    assert(exitedAtReturn, "the cancelled task outlived inParallel")
    assert(interruptedAtReturn, "interrupt status not restored")
  }
}
