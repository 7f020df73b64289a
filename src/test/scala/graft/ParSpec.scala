package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[Par.all]]'s contract: it returns (or fails) only after every
  * thunk has finished — under a sibling's failure and under an
  * interrupt of the calling thread alike. No Spark involved. */
class ParSpec extends AnyFunSuite {

  /** Run `Par.all` on a fresh caller thread; returns that thread plus
    * (was `sibling` finished when Par.all returned, caller's interrupt
    * flag at that moment, what Par.all threw). */
  private def onCaller(thunks: (() => Unit)*)(sibling: AtomicBoolean) = {
    @volatile var seen: (Boolean, Boolean, Option[Throwable]) = null
    val caller = new Thread(() => {
      val thrown = try { Par.all(thunks: _*); None }
                   catch { case t: Throwable => Some(t) }
      seen = (sibling.get, Thread.currentThread().isInterrupted, thrown)
    })
    caller.start()
    (caller, () => seen)
  }

  test("an interrupted caller keeps waiting until every sibling is done, " +
    "then restores its interrupt status") {
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val (caller, seen) = onCaller(
      () => { started.countDown(); release.await(); finished.set(true) },
      () => ())(finished)
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(300)
    assert(caller.isAlive, "Par.all returned while a sibling was still blocked")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive)
    val (siblingDone, interruptedAfter, thrown) = seen()
    assert(siblingDone, "every thunk must finish before Par.all returns")
    assert(interruptedAfter, "the caller's interrupt must not be swallowed")
    assert(thrown.isEmpty)
  }

  test("a failing thunk surfaces only after its siblings finish") {
    val release = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val (caller, seen) = onCaller(
      () => throw new IllegalStateException("boom"),
      () => { release.await(); finished.set(true) })(finished)
    caller.join(300)
    assert(caller.isAlive)
    release.countDown()
    caller.join(10000)
    val (siblingDone, _, thrown) = seen()
    assert(siblingDone)
    assert(thrown.exists(_.getMessage == "boom"))
  }
}
